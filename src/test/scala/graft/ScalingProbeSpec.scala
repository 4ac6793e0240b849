package graft

import java.io.ByteArrayOutputStream

/** Every `ScalingProbe` mode runs end to end at a small n through the
  * same table `main` dispatches on: each timed body must print both of
  * its runs, on this session's master.
  */
class ScalingProbeSpec extends SparkTestBase {
  private val n = 2000
  private val RunRow = """(\S+) n=(\d+) (\S+) run ([12]): .*""".r

  private def stdout(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString
  }

  ScalingProbe.modes.foreach { case (mode, (_, probe)) =>
    test(s"$mode: every timed body prints run 1 and run 2") {
      val out = stdout(probe(spark, n))
      val runs = out.linesIterator.collect {
        case RunRow(name, rowN, master, run) =>
          assert(rowN == n.toString && master == spark.sparkContext.master, out)
          name -> run
      }.toSeq
      assert(runs.nonEmpty, out)
      runs.groupBy(_._1).foreach { case (name, rs) =>
        assert(rs.map(_._2) == Seq("1", "2"), s"$name in:\n$out")
      }
    }
  }

  test("main with no mode prints the mode list") {
    val out = stdout(ScalingProbe.main(Array.empty))
    ScalingProbe.modes.keys.foreach(m => assert(out.contains(m), out))
  }
}
