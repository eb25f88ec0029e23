package graft

/** Time individual SparkEntry queries: `runMain graft.TimeQ q_a q_b ...`
  * (names or substrings; the dev loop for perf work — Bench runs the
  * whole suite). Each query runs twice in Bench's session, printing
  * cold/warm seconds and rows, then the warm run's profile: jobs,
  * stages, tasks, summed stage and task time, shuffle/spill/input bytes,
  * and one line per job with its stages as `s<id>:<seconds>s/<tasks>t`.
  */
object TimeQ {
  private def mb(b: Long): String = Harness.mb(b) + " MB"

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus("32"))
    Harness.select(args.toSeq).foreach { case (name, fn) =>
      val cold = Harness.timed(spark, name, fn, sfDir)
      val (warm, p) = Harness.profiled(spark)(cold.flatMap(_ =>
        Harness.timed(spark, name, fn, sfDir)))
      cold.flatMap(c => warm.map(c -> _)) match {
        case Right((c, w)) =>
          println(f"[timeq] $name%-28s cold ${c.seconds}%6.2f s  warm ${w.seconds}%6.2f s  rows ${c.rows}")
          val stageSeconds = p.jobs.flatMap(_.stages).map(_.seconds).sum
          println(f"[timeq]   warm: ${p.jobs.size} jobs  ${p.stages} stages  ${p.tasks} tasks  " +
            f"stage $stageSeconds%.2f s  task ${p.taskSeconds}%.2f s  shuffle read ${mb(p.shuffleReadBytes)}  " +
            s"write ${mb(p.shuffleWriteBytes)}  spill ${mb(p.spillBytes)}  input ${mb(p.inputBytes)}")
          p.jobs.foreach { j =>
            println(s"[timeq]   job ${j.id}: " + j.stages.map(s =>
              f"s${s.id}:${s.seconds}%.2fs/${s.tasks}t").mkString(" "))
          }
        case Left(m) => println(s"[timeq] $name failed: $m")
      }
      Blocks.dropAll(spark) // same between-query cleanup as Bench
    }
    spark.stop()
  }
}
