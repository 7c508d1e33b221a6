package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchProbeSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CONF parse keeps commas inside a value") {
    assert(BenchProbe.parseConf(
      "spark.a=1,spark.sql.x=p,q,r,spark.b=k=v,junk") == Seq(
      "spark.a" -> "1", "spark.sql.x" -> "p,q,r", "spark.b" -> "k=v,junk"))
    assert(BenchProbe.parseConf("noequals") == Seq.empty)
  }

  test("the scaled table is the sweep's scaled rows, in sweep order, with their reps") {
    val rows = Bench.scaled.map(w => w.name -> w.reps)
    assert(rows.map(_._1).distinct.size == rows.size)
    assert(rows == Seq(
      "scaled_minhash_x20" -> 3, "scaled_cc_x20" -> 3,
      "scaled_contam_x20" -> 3, "scaled_bloom_x20" -> 3,
      "scaled_contam_sparse_x20" -> 3, "scaled_bloom_sparse_x20" -> 3,
      "scaled_chunk_x20" -> 3, "scaled_winnow_x20" -> 3,
      "scaled_ppjoin_x20" -> 3, "scaled_snm_x20" -> 3,
      "scaled_sparse_x20" -> 3, "scaled_inc_x20" -> 3,
      "scaled_substr_x20" -> 3, "scaled_ivf_x20" -> 3,
      "scaled_pq_x20" -> 2, "scaled_sq_x20" -> 2,
      "scaled_stream_window_x20" -> 2, "scaled_stream_session_x20" -> 2,
      "scaled_stream_chain_x20" -> 2, "scaled_stream_tws_x20" -> 2,
      "scaled_bpe_x20" -> 2, "scaled_simhash_x20" -> 3,
      "scaled_semantic_x20" -> 2, "scaled_knng_x20" -> 2,
      "scaled_tri_x20" -> 2, "scaled_ejacc_x20" -> 2,
      "scaled_kcore_x20" -> 2, "scaled_coreness_x20" -> 2,
      "scaled_lpa_x20" -> 2, "scaled_bpe_deep200" -> 1))
    // sweep rows, not registry queries the headline loop also times
    assert(rows.map(_._1).forall(n => !SparkEntry.queries.contains(n)))
  }

  test("every table row resolves by its sweep name and its _x100 twin") {
    Bench.scaled.foreach { w =>
      assert(BenchProbe.resolve(w.name) == (w -> 20))
    }
    val x20 = Bench.scaled.filter(_.name.endsWith("_x20"))
    // the deep-merge BPE row reads the fixed-size workload-A corpus
    assert(Bench.scaled.diff(x20).map(_.name) == Seq("scaled_bpe_deep200"))
    x20.foreach { w =>
      assert(BenchProbe.resolve(w.name.stripSuffix("_x20") + "_x100") ==
        (w -> 100))
    }
    assert(BenchProbe.resolve("q_topk")._1.name == "q_topk")
    assert(BenchProbe.resolve("q_topk")._1.reps == 5)
    // the sweep's other rows resolve to themselves, except the two x100
    // rows whose names are x20 rows' _x100 twins
    val twins = Seq("scaled_tri_x100", "scaled_coreness_x100")
    Bench.table.filterNot(w => twins.contains(w.name))
      .foreach(w => assert(BenchProbe.resolve(w.name) == (w -> 20), w.name))
    assert(Bench.x100.map(_.name).filter(twins.contains) == twins)
    BenchProbe.probeOnly.foreach(d => assert(BenchProbe.resolve(d.name) == (d -> 20)))
  }

  test("a refused row prints its reason and runs nothing") {
    val refused = Bench.Workload("nope", 3, (_, _, _) => Bench.Refused("absent"))
    assert(BenchProbe.probe("nope", refused, 20, 3, null, "unused").isEmpty)
  }

  test("a probe prepares once before its first run and releases every run") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val fake = Bench.Workload("fake", 3, (_, _, f) => {
      events += s"prepare x$f"
      Bench.Job(() => {
        events += "run"
        () => events += "release"
      }, done = () => events += "done")
    })
    val secs = BenchProbe.probe("fake", fake, 100, 3, null, "unused")
    assert(secs.size == 3)
    assert(events == Seq("prepare x100") ++
      Seq.fill(3)(Seq("run", "release")).flatten :+ "done")
  }

  test("the warm line reads runs 2..N only, and says so for one run") {
    assert(BenchProbe.warmLine("w", Seq(11.0, 5.0, 4.0, 6.0, 3.0)) ==
      "[probe] w warm: min 3.000 s, median 4.500 s over runs 2..5")
    assert(BenchProbe.warmLine("w", Seq(11.0, 5.0)) ==
      "[probe] w warm: min 5.000 s, median 5.000 s over runs 2..2")
    assert(BenchProbe.warmLine("w", Seq(11.0)) == "[probe] w warm: cold only")
  }

  test("an unknown probe name fails with where names are looked up") {
    val e = intercept[IllegalArgumentException](BenchProbe.resolve("scaledcc"))
    val msg = e.getMessage
    assert(msg.contains("'scaledcc'"))
    assert(msg.contains("SparkEntry.queries"))
    (Bench.table.filterNot(w => Bench.headline.contains(w.name)) ++
      BenchProbe.probeOnly).foreach(w => assert(msg.contains(w.name), w.name))
    // a row's _x100 twin resolves, but nothing else is guessed
    intercept[IllegalArgumentException](BenchProbe.resolve("scaled_bpe_deep200_x100"))
  }
}
