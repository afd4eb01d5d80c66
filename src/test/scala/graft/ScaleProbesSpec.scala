package graft

import graft.athenaeum.SparkSpec
import graft.queries.Shared.freshFixtureDir

/** Every [[ScaleProbes]] row runs end to end at sf0.001 under a temp
  * fixture root and its parity holds, and every [[RunOne]] verb parses
  * without starting a session. */
class ScaleProbesSpec extends SparkSpec {
  private val src = "/root/testdata/sf0.001"

  ScaleProbes.all.foreach { p =>
    test(s"probe ${p.name} matches its one-shot truth at sf0.001") {
      val folds = p.gate.exists(_.folds.isDefined)
      val a = ScaleProbes.Args(src, k = if (p.name == "spatial_gate") 1 else 2,
        nBuckets = 4, nBatches = if (folds) 4 else p.nBatches,
        root = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get("/tmp"), s"graft_probe_${p.name}").toString)
      val parity =
        try ScaleProbes.run(spark, p, a) finally freshFixtureDir(a.root)
      assert(parity.ok, parity.detail)
    }
  }

  test("every RunOne verb parses, and unknown names fail before a session") {
    val q = SparkEntry.queries.keys.min
    val cmds = Map(
      "time" -> Seq(src, q), "top" -> Seq(src, "2"), "explain" -> Seq(src),
      "calib" -> Seq("1"), "scale" -> Seq(src, "/tmp/graft_x", "2", q),
      "probe" -> Seq("sem_gate_roll", src, "2"))
    assert(cmds.keySet == RunOne.verbs.keySet)
    cmds.foreach { case (verb, args) =>
      assert(RunOne.parse(verb +: args).isLeft == (verb == "calib"), verb)
    }
    Seq(Seq("time", src, q, "no_such_q"), Seq("explain", src, "no_such_q"),
      Seq("probe", "no_such_probe"), Seq("frobnicate"), Seq.empty)
      .foreach { args =>
        intercept[IllegalArgumentException](RunOne.parse(args))
      }
    val e = intercept[IllegalArgumentException](
      RunOne.parse(Seq("time", src, "zz_q", q, "aa_q")))
    assert(e.getMessage.contains("aa_q, zz_q"), e.getMessage)
  }
}
