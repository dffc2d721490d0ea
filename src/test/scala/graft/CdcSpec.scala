package graft

import graft.meta.Currents
import graft.operators.{Cdc, MetaEnrichment}

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private val currents1 = Currents("2024-01-01 10:00:00")
  private val currents2 = Currents("2024-01-02 10:00:00")

  private def enriched(rows: Seq[(String, String)], c: Currents) =
    MetaEnrichment.addMetaColumns(rows.toDF("k", "v"), c, keys)

  private val current = enriched(Seq("a" -> "1", "b" -> "2", "c" -> "3"), currents1)
  // a unchanged, b changed, d new
  private val incoming = enriched(Seq("a" -> "1", "b" -> "9", "d" -> "4"), currents2)

  test("delta = inserts + updates, disjoint") {
    val d = Cdc.delta(current, incoming)
    assert(d.select("k").as[String].collect().sorted.toSeq === Seq("b", "d"))
    val ins = Cdc.inserts(current, incoming).select("k").as[String].collect().toSeq
    val upd = Cdc.updates(current, incoming).select("k").as[String].collect().toSeq
    assert(ins === Seq("d"))
    assert(upd === Seq("b"))
    assert((ins ++ upd).sorted === d.select("k").as[String].collect().sorted.toSeq)
  }

  test("deltaBucketed is row- and column-identical to delta") {
    // multiple record-hash versions per key: current carries b twice
    val multi = current.unionByName(enriched(Seq("b" -> "8"), currents1))
    val pair = Cdc.delta(multi, incoming)
    val rekeyed = Cdc.deltaBucketed(multi, incoming)
    assert(rekeyed.columns.toSeq === pair.columns.toSeq)
    assert(rekeyed.exceptAll(pair).count() === 0)
    assert(pair.exceptAll(rekeyed).count() === 0)
    // and on an empty current store everything is delta
    val empty = current.filter($"k" === "zzz")
    assert(Cdc.deltaBucketed(empty, incoming).count() === incoming.count())
  }

  test("deltaBucketed aggregates only the batch's keys on the store side") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    object Plans extends AdaptiveSparkPlanHelper
    val table = "graft_cdc_bounded_delta"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      graft.sources.Store.writeStoreTable(
        enriched((1 to 400).map(i => s"k$i" -> s"v${i % 7}"), currents1), table, buckets = 4)
      // 20 stored keys (half of them changed) and 5 new ones against 400
      val batch = enriched(
        (1 to 20).map(i => s"k${i * 13}" -> (if (i % 2 == 0) "changed" else s"v${i * 13 % 7}")) ++
          (1 to 5).map(i => s"new$i" -> "x"), currents2)
      val batchKeys = batch.select(graft.meta.MetaColumns.KeyHash).distinct().count()
      // default threshold (AQE may broadcast the sets) and broadcast off
      // (every join sort-merges against the bucketed scan)
      for (threshold <- Seq(None, Some("-1"))) {
        threshold.foreach(spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
        try {
          val delta = Cdc.deltaBucketed(graft.sources.Store.readStoreTable(spark, table), batch)
          // collect runs the frame's own plan, whose metrics are read below
          assert(delta.collect().length === 15)
          val plan = delta.queryExecution.executedPlan
          val aggs = Plans.collect(plan) { case a: ObjectHashAggregateExec => a }
          assert(aggs.nonEmpty, s"no collect_set aggregate in\n$plan")
          aggs.foreach { a =>
            val rows = a.metrics("numOutputRows").value
            assert(rows <= batchKeys,
              s"store-side aggregate emitted $rows rows for $batchKeys batch keys ($threshold):\n$plan")
          }
        } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("delta of identical snapshots is empty") {
    assert(Cdc.delta(current, current).isEmpty)
  }

  test("deltaBloom is row- and column-identical to delta at any filter size") {
    val pair = Cdc.delta(current, incoming)
    // realistic size (few false positives: most rows bypass the join) and
    // a pathological 64-bit filter (everything collides into the join
    // path) must both reproduce the exact anti-join
    Seq(1 << 16, 64).foreach { bits =>
      val routed = Cdc.deltaBloom(current, incoming, bits = bits)
      assert(routed.columns.toSeq === pair.columns.toSeq)
      assert(routed.exceptAll(pair).count() === 0)
      assert(pair.exceptAll(routed).count() === 0)
    }
    // empty store: the filter is all-zero, every row is definite-new
    val empty = current.filter($"k" === "zzz")
    assert(Cdc.deltaBloom(empty, incoming).count() === incoming.count())
    // identical snapshots: every pair is in the filter, nothing survives
    assert(Cdc.deltaBloom(current, current, bits = 1 << 16).isEmpty)
  }

  test("deltaBloomWith over a prebuilt synopsis equals delta; merge law holds") {
    val pair = Cdc.delta(current, incoming)
    // synopsis built whole, and synopsis accumulated from two append
    // halves (the production shape: per-append rows merged by word-wise
    // OR at collect time) — both must reproduce the exact anti-join
    val whole = Cdc.bloomSynopsis(current, bits = 1 << 16)
    val halves = Cdc.bloomSynopsis(current.filter($"k" < "b"), bits = 1 << 16)
      .union(Cdc.bloomSynopsis(current.filter($"k" >= "b"), bits = 1 << 16))
    Seq(whole, halves).foreach { syn =>
      val routed = Cdc.deltaBloomWith(current, incoming, syn, bits = 1 << 16)
      assert(routed.columns.toSeq === pair.columns.toSeq)
      assert(routed.exceptAll(pair).count() === 0)
      assert(pair.exceptAll(routed).count() === 0)
    }
    // pathological 64-bit filter: everything collides into the residual
    val tiny = Cdc.bloomSynopsis(current, bits = 64)
    val collided = Cdc.deltaBloomWith(current, incoming, tiny, bits = 64)
    assert(collided.exceptAll(pair).count() === 0)
    assert(pair.exceptAll(collided).count() === 0)
    // a synopsis built at different bits must refuse, not mis-route
    intercept[IllegalArgumentException] {
      Cdc.deltaBloomWith(current, incoming, Cdc.bloomSynopsis(current, bits = 1 << 16),
        bits = 64).count()
    }
    // ...and the previously-SILENT direction — synopsis built SMALLER than
    // the probe's bits: every word index passes the bounds check while
    // store-present rows hash to clear bits and would mis-route as
    // definite-new; the carried sentinel turns that into a refusal too
    intercept[IllegalArgumentException] {
      Cdc.deltaBloomWith(current, incoming, Cdc.bloomSynopsis(current, bits = 64),
        bits = 1 << 16).count()
    }
    // the sentinel itself survives the merge law: identical (w=-1, bits)
    // rows OR into themselves across appended synopsis parts
    assert(halves.filter($"w" === -1).select($"m").as[Long].collect().toSeq
      === Seq((1L << 16), (1L << 16)))
  }

  test("updates projects back to new-side columns only") {
    val upd = Cdc.updates(current, incoming)
    assert(upd.columns.toSeq === incoming.columns.toSeq)
    assert(upd.select("v").as[String].head() === "9")
  }

  test("mergeCdc upserts and deletes by key") {
    val deleted = Seq("c").toDF("k")
    val merged = Cdc.mergeCdc(current, incoming, keys, Some(deleted))
    val byKey = merged.select("k", "v").as[(String, String)].collect().toMap
    assert(byKey === Map("a" -> "1", "b" -> "9", "d" -> "4"))
  }

  test("deletedByFullLoad finds vanished keys") {
    val gone = Cdc.deletedByFullLoadList(current, incoming)
    val expected = current.filter($"k" === "c").select("KEY_HASH").as[String].head()
    assert(gone === Seq(expected))
  }

  test("stampDeleted stamps vanished keys, keeps every row, and is idempotent") {
    val stamped = Cdc.stampDeleted(current, incoming, currents2)
    // all rows kept, columns unchanged
    assert(stamped.count() === current.count())
    assert(stamped.columns.toSeq === current.columns.toSeq)
    val byKey = stamped.select($"k", $"DELETED".cast("string"))
      .as[(String, Option[String])].collect().toMap
    // only c vanished from the incoming full load
    assert(byKey("c") === Some("2024-01-02 10:00:00"))
    assert(byKey("a").isEmpty && byKey("b").isEmpty)
    // re-stamping at a later run keeps the ORIGINAL stamp (first
    // observation wins) and stamps nothing new
    val again = Cdc.stampDeleted(stamped, incoming, Currents("2024-01-03 10:00:00"))
    val byKey2 = again.select($"k", $"DELETED".cast("string"))
      .as[(String, Option[String])].collect().toMap
    assert(byKey2 === byKey)
  }

  test("asOfRun: travel before a soft delete sees the row, at/after does not") {
    val stamped = Cdc.stampDeleted(current, incoming, currents2)
    import graft.pipeline.Historization
    // run 1 (before the deletion run): c is still visible
    val at1 = Historization.asOfRun(stamped, currents1.runId)
      .select("k").as[String].collect().sorted.toSeq
    assert(at1 === Seq("a", "b", "c"))
    // run 2 (the run that observed the deletion): c is gone
    val at2 = Historization.asOfRun(stamped, currents2.runId)
      .select("k").as[String].collect().sorted.toSeq
    assert(at2 === Seq("a", "b"))
    // a frame without the DELETED column falls back to the run bound only
    val bare = Historization.asOfRun(stamped.drop("DELETED"), currents2.runId)
    assert(bare.select("k").as[String].collect().sorted.toSeq === Seq("a", "b", "c"))
  }

  test("storeDiff classifies added/removed/changed; summary counts agree") {
    val a = Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "z", 30.0))
      .toDF("id", "tag", "v")
    val b = Seq((2L, "y", 20.0), (3L, "z", 31.0), (4L, "w", 40.0))
      .toDF("id", "tag", "v")
    val diff = Cdc.storeDiff(a, b, Seq("id"), Seq("tag", "v"))
      .select("id", "diff_status").as[(Long, String)].collect().toMap
    assert(diff === Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    // unchanged rows are dropped by default, kept on request
    val full = Cdc.storeDiff(a, b, Seq("id"), Seq("tag", "v"), keepUnchanged = true)
    assert(full.count() === 4)
    val sums = Cdc.storeDiffSummary(a, b, Seq("id"), Seq("tag", "v"))
      .as[(Long, Long, Long, Long)].head()
    assert(sums === ((1L, 1L, 1L, 1L)))
    // self-diff is empty (and the summary all-unchanged)
    assert(Cdc.storeDiff(a, a, Seq("id"), Seq("tag", "v")).count() === 0)
  }

  test("storeDiff matches null keys across sides instead of double-counting them") {
    // a using-join never matches null keys: identical sides with a null
    // key row would misreport one 'removed' AND one 'added' on every
    // diff, inflating the publish gate's counts — the null-safe key
    // equality must see them as the same row
    val a = Seq((Some(1L), "x", 10.0), (None, "n", 5.0)).toDF("id", "tag", "v")
    assert(Cdc.storeDiff(a, a, Seq("id"), Seq("tag", "v")).count() === 0)
    // and a genuine change ON the null key classifies as changed, once
    val b = Seq((Some(1L), "x", 10.0), (None, "n", 6.0)).toDF("id", "tag", "v")
    val d = Cdc.storeDiff(a, b, Seq("id"), Seq("tag", "v"))
      .select("diff_status").as[String].collect().toSeq
    assert(d === Seq("changed"))
  }

  test("deletesByColumn selects KEY_HASH of flagged rows") {
    val flagged = current.withColumn("op", org.apache.spark.sql.functions.when($"k" === "b",
      "D").otherwise("U"))
    val got = Cdc.deletesByColumnList(flagged, "op", "D")
    val expected = current.filter($"k" === "b").select("KEY_HASH").as[String].head()
    assert(got === Seq(expected))
  }
}
