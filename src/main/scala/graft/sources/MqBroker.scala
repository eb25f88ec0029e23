package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{ServerSocket, Socket}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable

/** Minimal single-node message broker over TCP — the NETWORK transport
  * half of the message-queue story whose directory-tail half is
  * [[QueueIngest]] (SURVEY §1.1 [R]: the reference's HTTP → MQ ingest
  * loop). No connector jar exists offline, so the broker itself lives
  * in-repo; the protocol is the Kafka-shaped minimum a replayable
  * streaming source needs and nothing more:
  *
  *  - A topic is an APPEND-ONLY LOG; a message's '''offset is its
  *    record index''' — dense, immutable, assigned at publish.
  *  - `PUB` is durable-before-ack: the log is fsync'd before the
  *    producer sees its offsets (a producer that never saw the ack
  *    re-publishes — at-least-once, same contract as the spool).
  *  - `FETCH topic [from, until)` re-serves any consumed range
  *    verbatim, any number of times: '''replayability is what turns
  *    Spark's checkpointed offset ranges into exactly-once''' (the
  *    consumer-group ack ledger IS the checkpoint — [[MqSourceProvider]]
  *    never asks the broker to track consumers).
  *  - `END topic` returns the current end offset (the only
  *    admission-control input the source needs).
  *
  * Hostile-input doctrine (the MediaContainers rules, applied to the
  * wire and the log): every declared length is validated against
  * [[MqBroker.MaxRecordBytes]] before allocation, on PUB, on FETCH
  * serving, and on startup log recovery; a torn tail (crash mid-append)
  * is detected by exact header/payload tiling and truncated back to the
  * last whole record — never parsed past, never trusted.
  *
  * Scale posture, honestly stated: THIS broker is a test/protocol
  * stand-in — one node, one log file per topic, an in-memory 8-byte/record
  * position index (a production broker segments the log and sparsifies
  * the index; swapping brokers changes none of the Spark side). The
  * 100 TB story lives in [[MqSourceProvider]]: offset ranges fan out to
  * one reader per executor-side sub-range, admission is bounded per
  * trigger, and nothing about consumption is driver-side state.
  */
final class MqBroker private (val dir: String, serverSocket: ServerSocket) {
  import MqBroker._

  val port: Int = serverSocket.getLocalPort

  // per-topic state, guarded by `lock`: append channel, record file
  // positions (positions(i) = byte offset of record i's header), end ts
  private final class TopicLog(val channel: FileChannel,
                               val positions: mutable.ArrayBuffer[Long])
  private val topics = mutable.Map[String, TopicLog]()
  private val lock = new Object
  @volatile private var closed = false

  private def logPath(topic: String) = {
    require(topic.nonEmpty && topic.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'), s"illegal topic '$topic'")
    Paths.get(dir, s"$topic.log")
  }

  /** Open (or recover) a topic log. Recovery walks whole records and
    * truncates a torn tail: shorter-than-header remainder, a length
    * outside [0, MaxRecordBytes], or a truncated payload all end the
    * walk at the last whole record.
    */
  private def openTopic(topic: String): TopicLog = lock.synchronized {
    topics.getOrElseUpdate(topic, {
      val p = logPath(topic)
      Files.createDirectories(p.getParent)
      val positions = mutable.ArrayBuffer[Long]()
      if (Files.exists(p)) {
        val ch = FileChannel.open(p, StandardOpenOption.READ,
          StandardOpenOption.WRITE)
        try {
          val size = ch.size()
          var pos = 0L
          var ok = true
          val hdr = ByteBuffer.allocate(12)
          while (ok && pos + 12 <= size) {
            hdr.clear(); ch.read(hdr, pos); hdr.flip()
            val len = hdr.getInt
            if (len < 0 || len > MaxRecordBytes || pos + 12 + len > size) ok = false
            else { positions += pos; pos += 12 + len }
          }
          if (pos < size) ch.truncate(pos) // torn tail — drop it
        } finally ch.close()
      }
      val append = FileChannel.open(p, StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.APPEND)
      new TopicLog(append, positions)
    })
  }

  /** Append records; fsync; return (firstOffset, endOffset). */
  private def append(topic: String, msgs: Seq[Array[Byte]]): (Long, Long) = {
    msgs.foreach(m => require(m.length <= MaxRecordBytes,
      s"record ${m.length} bytes exceeds MaxRecordBytes=$MaxRecordBytes"))
    lock.synchronized {
      val t = openTopic(topic)
      val first = t.positions.length.toLong
      val ts = System.currentTimeMillis()
      msgs.foreach { m =>
        val buf = ByteBuffer.allocate(12 + m.length)
        buf.putInt(m.length).putLong(ts).put(m).flip()
        val pos = t.channel.position()
        while (buf.hasRemaining) t.channel.write(buf)
        t.positions += pos
      }
      t.channel.force(false) // durable before the ack
      (first, t.positions.length.toLong)
    }
  }

  private def endOffset(topic: String): Long =
    lock.synchronized(openTopic(topic).positions.length.toLong)

  /** Serve [from, until) onto `out`. A range past the end is LOUD (the
    * consumer's checkpoint says the data existed — silence would turn
    * log loss into silent row loss).
    */
  private def serveFetch(topic: String, from: Long, until: Long,
                         out: DataOutputStream): Unit = {
    val (startPos, end) = lock.synchronized {
      val t = openTopic(topic)
      (if (from >= 0 && from < t.positions.length) t.positions(from.toInt) else -1L,
        t.positions.length.toLong)
    }
    if (from < 0 || until < from || until > end)
      throw new IOException(
        s"fetch [$from,$until) outside log [0,$end) for '$topic' — " +
          "replay contract broken (log truncated?)")
    // read with an independent channel: appends never move committed bytes
    val ch = FileChannel.open(logPath(topic), StandardOpenOption.READ)
    try {
      var pos = startPos
      var off = from
      val hdr = ByteBuffer.allocate(12)
      while (off < until) {
        hdr.clear(); ch.read(hdr, pos); hdr.flip()
        val len = hdr.getInt
        val ts = hdr.getLong
        if (len < 0 || len > MaxRecordBytes)
          throw new IOException(s"corrupt record at $pos in '$topic'")
        val payload = ByteBuffer.allocate(len)
        var p = pos + 12
        while (payload.hasRemaining) {
          val n = ch.read(payload, p)
          if (n < 0) throw new IOException(s"truncated record at $pos in '$topic'")
          p += n
        }
        out.writeBoolean(true)
        out.writeLong(off); out.writeLong(ts)
        out.writeInt(len); out.write(payload.array())
        pos += 12 + len
        off += 1
      }
      out.writeBoolean(false)
      out.flush()
    } finally ch.close()
  }

  private def handle(sock: Socket): Unit = {
    try {
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
      var live = true
      while (live) {
        val cmd = try in.readUTF() catch { case _: EOFException => live = false; "" }
        cmd match {
          case "END" =>
            out.writeLong(endOffset(in.readUTF())); out.flush()
          case "FETCH" =>
            val topic = in.readUTF()
            serveFetch(topic, in.readLong(), in.readLong(), out)
          case "PUB" =>
            val topic = in.readUTF()
            val n = in.readInt()
            require(n >= 0 && n <= MaxBatchRecords, s"batch of $n records")
            val msgs = (0 until n).map { _ =>
              val len = in.readInt()
              if (len < 0 || len > MaxRecordBytes)
                throw new IOException(s"declared record length $len rejected")
              val b = new Array[Byte](len)
              in.readFully(b)
              b
            }
            val (first, end) = append(topic, msgs)
            out.writeLong(first); out.writeLong(end); out.flush()
          case "" => // EOF
          case other => throw new IOException(s"unknown command '$other'")
        }
      }
    } catch {
      case _: IOException => // connection-scoped: drop it, broker lives on
    } finally {
      try sock.close() catch { case _: IOException => }
    }
  }

  locally {
    val t = new Thread(() => {
      while (!closed) {
        try {
          val s = serverSocket.accept()
          val h = new Thread(() => handle(s), s"mq-broker-conn-$port")
          h.setDaemon(true)
          h.start()
        } catch {
          case _: IOException => // socket closed — accept loop exits
        }
      }
    }, s"mq-broker-accept-$port")
    t.setDaemon(true)
    t.start()
  }

  def close(): Unit = {
    closed = true
    try serverSocket.close() catch { case _: IOException => }
    lock.synchronized {
      topics.values.foreach(t => try t.channel.close() catch { case _: IOException => })
      topics.clear()
    }
  }
}

object MqBroker {
  /** Single-record cap — validated on PUB, FETCH, and log recovery. */
  val MaxRecordBytes: Int = 16 * 1024 * 1024
  /** Per-PUB batch cap (wire-declared count is untrusted input too). */
  val MaxBatchRecords: Int = 1 << 20

  /** Start a broker persisting under `dir`; port 0 = ephemeral. */
  def start(dir: String, port: Int = 0): MqBroker = {
    Files.createDirectories(Paths.get(dir))
    new MqBroker(dir, new ServerSocket(port))
  }

  // ---- client side (used by producers, tests, and the Spark readers) ----

  private def connect(host: String, port: Int): (Socket, DataInputStream, DataOutputStream) = {
    val s = new Socket(host, port)
    s.setTcpNoDelay(true)
    (s, new DataInputStream(new java.io.BufferedInputStream(s.getInputStream)),
      new DataOutputStream(new java.io.BufferedOutputStream(s.getOutputStream)))
  }

  /** Publish a batch; returns (firstOffset, endOffset) after the broker
    * has fsync'd (the ack IS the durability point).
    */
  def publish(host: String, port: Int, topic: String,
              msgs: Seq[Array[Byte]]): (Long, Long) = {
    msgs.foreach(m => require(m.length <= MaxRecordBytes,
      s"record ${m.length} bytes exceeds MaxRecordBytes"))
    val (s, in, out) = connect(host, port)
    try {
      out.writeUTF("PUB"); out.writeUTF(topic); out.writeInt(msgs.length)
      msgs.foreach { m => out.writeInt(m.length); out.write(m) }
      out.flush()
      (in.readLong(), in.readLong())
    } finally s.close()
  }

  def publishStrings(host: String, port: Int, topic: String,
                     msgs: Seq[String]): (Long, Long) =
    publish(host, port, topic, msgs.map(_.getBytes("UTF-8")))

  def end(host: String, port: Int, topic: String): Long = {
    val (s, in, out) = connect(host, port)
    try {
      out.writeUTF("END"); out.writeUTF(topic); out.flush()
      in.readLong()
    } finally s.close()
  }

  /** One fetched record: dense offset, broker arrival ts (ms), payload. */
  final case class Record(offset: Long, tsMillis: Long, value: Array[Byte])

  /** Streaming fetch of [from, until): records arrive one at a time off
    * the socket (a reader over a large range never buffers the range).
    * The returned iterator owns the connection; exhaust or `close` it.
    */
  final class FetchIterator(host: String, port: Int, topic: String,
                            from: Long, until: Long)
      extends Iterator[Record] with AutoCloseable {
    private val (sock, in, out) = connect(host, port)
    try {
      out.writeUTF("FETCH"); out.writeUTF(topic)
      out.writeLong(from); out.writeLong(until); out.flush()
    } catch { case e: IOException => close(); throw e }
    private var nextRec: Record = _
    private var done = false
    private def advance(): Unit = if (!done && nextRec == null) {
      if (in.readBoolean()) {
        val off = in.readLong(); val ts = in.readLong()
        val len = in.readInt()
        if (len < 0 || len > MaxRecordBytes)
          throw new IOException(s"declared record length $len rejected")
        val b = new Array[Byte](len)
        in.readFully(b)
        nextRec = Record(off, ts, b)
      } else { done = true; close() }
    }
    override def hasNext: Boolean = { advance(); !done }
    override def next(): Record = {
      advance()
      if (done) throw new NoSuchElementException
      val r = nextRec; nextRec = null; r
    }
    override def close(): Unit = try sock.close() catch { case _: IOException => }
  }

  def fetch(host: String, port: Int, topic: String,
            from: Long, until: Long): FetchIterator =
    new FetchIterator(host, port, topic, from, until)
}
