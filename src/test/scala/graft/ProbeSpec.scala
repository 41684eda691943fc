package graft

/** Probe resolves names against Bench's row table, fails loudly on a
  * misspelled one, and leaves the session as it found it. */
class ProbeSpec extends SparkFunSuite {
  private val dir = "/root/testdata/sf0.001"

  /** Runs a probe command, returning its exit code and printed lines
    * (stage lines arrive from the listener thread). */
  private def probe(args: String*): (Int, Seq[String]) = {
    val lines = java.util.Collections.synchronizedList(new java.util.ArrayList[String])
    val code = Probe.run(spark, dir, args, l => { lines.add(l); () })
    import scala.jdk.CollectionConverters._
    (code, lines.asScala.toSeq)
  }

  /** Listeners registered on the session's bus (`private[spark]`). */
  private def listenerCount(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].size
  }

  test("every contract query and the documented scenarios resolve; unknown names exit 2 and run nothing") {
    val table = Bench.rows(spark, dir).map(_._1)
    assert(table.distinct.size == table.size)
    // scenario rows that the documented Probe recipes name
    val documented = Seq("build_100k_x1", "build_1m_x10", "audit_100k_x1",
      "build_20m_skew_auto", "build_20m_skew_plain", "curate_1m", "gopher_c4_10m",
      "exactsubstr_300k", "chunk_1m", "dsir_1m", "bpe_1m", "sequences_1m", "shuffle_10m",
      "streaming_gate_300k", "novelty_10m_approx", "novelty_10m_exact", "classifier_fit",
      "ivf_build_1m", "ivf_append_100k", "pq_encode_1m", "pq_search_1m", "ivfpq_build_1m",
      "ivfpq_search_1m", "incdedup_plain_1m_vs_9m", "incdedup_bloom_1m_vs_9m",
      "domaincap_10m", "domaincap_10m_nolimit")
    (SparkEntry.queries.keys.toSeq ++ documented).foreach(n => assert(table.contains(n), n))

    // the valid first name must not run either: resolution precedes work
    Seq(Seq("row", "q_pit_strict,q_pit_strcit", "1"), Seq("plan", "q_nope"),
        Seq("plan", "q_pit_strict,q_nope", "Exchange"), Seq("warn", "q_no_such_prefix", "1"),
        Seq("row", "q_pit_strict", "zero"), Seq("bogus")).foreach { args =>
      val (code, out) = probe(args: _*)
      assert(code == 2, args)
      assert(out.isEmpty, args)
    }
  }

  test("plan prints the marked formatted plan and counts pattern matches") {
    val (code, out) = probe("plan", "q_pit_strict")
    assert(code == 0)
    assert(out.head == "=== q_pit_strict ===")
    assert(out.mkString("\n").contains("Physical Plan"))

    val (code2, out2) = probe("plan", "q_pit_strict", "Exchange")
    assert(code2 == 0)
    val hit = raw"\[probe\] q_pit_strict: (\d+) x Exchange".r
    val n = out2.collectFirst { case hit(k) => k.toInt }
    assert(n.exists(_ >= 1), out2)
    assert(out2.last == "[probe] 1 queries contain 'Exchange'")
  }

  test("row reports jobs and stages per run and removes its listener") {
    val before = listenerCount()
    val (code, out) = probe("row", "q_pit_strict", "1")
    assert(code == 0)
    val run = raw"\[probe\] q_pit_strict (warmup|run1): [\d.]+s jobs=(\d+) stages=(\d+) tasks=(\d+) gc=\d+ms".r
    val runs = out.collect { case run(label, j, s, t) => (label, j.toInt, s.toInt, t.toInt) }
    assert(runs.map(_._1) == Seq("warmup", "run1"), out)
    runs.foreach { case (label, jobs, stages, tasks) =>
      assert(jobs > 0 && stages > 0 && tasks > 0, label)
    }
    assert(out.exists(_.startsWith("[probe]   stage ")))
    assert(listenerCount() == before)
  }
}
