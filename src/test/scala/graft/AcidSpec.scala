package graft

import graft.operators.Acid
import org.apache.spark.sql.functions._

class AcidSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def event(op: Int, bucket: Int, rowId: Long, txn: Long,
      v: Double) =
    (op, 1L, bucket, rowId, txn, v)

  private def eventsDf(rows: Seq[(Int, Long, Int, Long, Long, Double)]) =
    rows.toDF("operation", "originalTransaction", "bucket", "rowId",
        "currentTransaction", "v")
      .withColumn("row", struct(col("rowId").as("id"), col("v")))
      .drop("v")

  test("resolve keeps the highest-transaction version per row") {
    val df = eventsDf(Seq(
      event(Acid.OpInsert, 0, 1L, 1L, 10.0),
      event(Acid.OpUpdate, 0, 1L, 2L, 20.0),
      event(Acid.OpUpdate, 0, 1L, 5L, 50.0),   // latest wins
      event(Acid.OpInsert, 0, 2L, 1L, 99.0)))
    val got = Acid.resolve(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 50.0, 2L -> 99.0))
  }

  test("resolve drops deleted rows (delete visibility)") {
    val df = eventsDf(Seq(
      event(Acid.OpInsert, 0, 1L, 1L, 10.0),
      event(Acid.OpDelete, 0, 1L, 2L, 0.0),
      event(Acid.OpInsert, 1, 2L, 1L, 30.0),
      // delete then re-insert at a later txn: row visible again
      event(Acid.OpDelete, 1, 2L, 2L, 0.0),
      event(Acid.OpInsert, 1, 2L, 3L, 40.0)))
    val got = Acid.resolve(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(2L -> 40.0))
  }

  test("readTable resolves a base_N + delta_M directory layout") {
    val dir = graft.sources.OrcIo.scratchDir("acid_dirs")
    // base_1: compacted state {1 -> 10.0, 2 -> 30.0} at txn 1
    Seq((1L, 10.0), (2L, 30.0)).toDF("id", "v")
      .write.orc(s"$dir/t/base_1")
    // delta_2: update row 1; delta_3: delete row 2, insert row 3.
    // buckets follow readTable's id % 4 derivation so keys align
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0)))
      .write.orc(s"$dir/t/delta_2")
    eventsDf(Seq(
      event(Acid.OpDelete, 2, 2L, 3L, 0.0),
      event(Acid.OpInsert, 3, 3L, 3L, 50.0)))
      .write.orc(s"$dir/t/delta_3")
    val got = Acid.readTable(spark, s"$dir/t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 11.0, 3L -> 50.0), got)
  }

  test("readTableAsOf walks the snapshot history and prunes future " +
      "deltas at the metadata level") {
    val dir = graft.sources.OrcIo.scratchDir("acid_asof")
    Seq((1L, 10.0), (2L, 30.0)).toDF("id", "v")
      .write.orc(s"$dir/t/base_1")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0)))
      .write.orc(s"$dir/t/delta_2")
    eventsDf(Seq(
      event(Acid.OpDelete, 2, 2L, 3L, 0.0),
      event(Acid.OpInsert, 3, 3L, 3L, 50.0)))
      .write.orc(s"$dir/t/delta_3")
    def asOf(t: Long) =
      Acid.readTableAsOf(spark, s"$dir/t", t).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // txn 1: pristine base
    assert(asOf(1L) == Map(1L -> 10.0, 2L -> 30.0))
    // txn 2: update applied, delete/insert of txn 3 invisible
    assert(asOf(2L) == Map(1L -> 11.0, 2L -> 30.0))
    // txn 3 == current state
    assert(asOf(3L) == Map(1L -> 11.0, 3L -> 50.0))
    // pruning is metadata-level: the asOf=1 plan never mentions the
    // future delta directories
    val plan = Acid.readTableAsOf(spark, s"$dir/t", 1L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("delta_2") && !plan.contains("delta_3"),
      s"future deltas must be pruned from the read:\n$plan")
    // straggler filtering: a minor-compacted range spanning the
    // snapshot keeps only in-snapshot events
    Acid.minorCompact(spark, s"$dir/t")  // -> delta_2_3
    assert(asOf(2L) == Map(1L -> 11.0, 2L -> 30.0),
      "snapshot must filter stragglers inside a kept compacted range")
  }

  test("changesBetween classifies update/insert/delete, deletes win " +
      "over earlier updates, and rows born-and-deleted inside the " +
      "window collapse to nothing") {
    val dir = graft.sources.OrcIo.scratchDir("acid_cdc")
    // base_1: {1 -> 10.0, 2 -> 30.0, 4 -> 40.0}
    Seq((1L, 10.0), (2L, 30.0), (4L, 40.0)).toDF("id", "v")
      .write.orc(s"$dir/t/base_1")
    // delta_2: update 1, insert 3, insert 5 (5 dies in delta_3)
    eventsDf(Seq(
      event(Acid.OpUpdate, 1, 1L, 2L, 11.0),
      event(Acid.OpInsert, 3, 3L, 2L, 50.0),
      event(Acid.OpInsert, 1, 5L, 2L, 70.0)))
      .write.orc(s"$dir/t/delta_2")
    // delta_3: delete 2 (existed at fromTxn), update-then... delete 5
    // (born inside the window), update 4 then delete 4 across deltas
    eventsDf(Seq(
      event(Acid.OpDelete, 2, 2L, 3L, 0.0),
      event(Acid.OpDelete, 1, 5L, 3L, 0.0),
      event(Acid.OpDelete, 0, 4L, 3L, 0.0)))
      .write.orc(s"$dir/t/delta_3")
    val got = Acid.changesBetween(spark, s"$dir/t", fromTxn = 1L,
        toTxn = 3L).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), Option(r.get(4)))))
      .toMap
    // 5 was born at txn 2 and deleted at txn 3 — invisible at both
    // snapshots, so NOT a change
    assert(!got.contains(5L), got)
    assert(got(1L)._1 == "update" && got(1L)._2 == 2L &&
      got(1L)._3.exists(_.asInstanceOf[org.apache.spark.sql.Row]
        .getDouble(1) == 11.0))
    assert(got(2L)._1 == "delete" && got(2L)._3.isEmpty)
    assert(got(3L)._1 == "insert")
    assert(got(4L)._1 == "delete", "delete wins for a base row")
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    // a narrower window (1, 2]: only the txn-2 events, delete of 2
    // not yet visible; 5 appears as an insert (it IS visible at 2)
    val got2 = Acid.changesBetween(spark, s"$dir/t", 1L, 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == Map(1L -> "update", 3L -> "insert", 5L -> "insert"),
      got2)
    // minor compaction folds delta_2 + delta_3 into delta_2_3; the
    // full-window classification must be unchanged (the compacted
    // range intersects the window and keeps the LAST event per key,
    // which is exactly what CDC classifies on)
    Acid.minorCompact(spark, s"$dir/t")
    val got3 = Acid.changesBetween(spark, s"$dir/t", 1L, 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got3 == got.map { case (k, v) => k -> v._1 },
      s"compaction changed the CDC classification: $got3")
  }

  test("changesBetween refuses a window predating the newest base — " +
      "compacted-away history fails loudly instead of misclassifying") {
    val dir = graft.sources.OrcIo.scratchDir("acid_cdc_guard")
    Seq((1L, 10.0)).toDF("id", "v").write.orc(s"$dir/t/base_2")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 3L, 11.0)))
      .write.orc(s"$dir/t/delta_3")
    // fromTxn = 1 < base txn 2: the before-snapshot no longer exists
    // (the base folded it), so every update would read as an insert
    // and every delete would vanish — must throw, not fabricate
    val e = intercept[IllegalArgumentException] {
      Acid.changesBetween(spark, s"$dir/t", fromTxn = 1L, toTxn = 3L)
    }
    assert(e.getMessage.contains("compacted away"), e.getMessage)
    // the boundary is inclusive: fromTxn == base txn is answerable
    val ok = Acid.changesBetween(spark, s"$dir/t", 2L, 3L).collect()
    assert(ok.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "update")), ok.toSeq)
  }

  test("restoreTo rolls the table back to the snapshot, collapses " +
      "the layout to one base, and writes continue after it") {
    val dir = graft.sources.OrcIo.scratchDir("acid_restore")
    Seq((1L, 10.0), (2L, 30.0)).toDF("id", "v").write.orc(s"$dir/t/base_1")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0)))
      .write.orc(s"$dir/t/delta_2")
    eventsDf(Seq(
      event(Acid.OpDelete, 2, 2L, 3L, 0.0),
      event(Acid.OpInsert, 3, 3L, 3L, 50.0)))
      .write.orc(s"$dir/t/delta_3")
    val want = Acid.readTableAsOf(spark, s"$dir/t", 2L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Acid.restoreTo(spark, s"$dir/t", txn = 2L)
    val fs = new org.apache.hadoop.fs.Path(s"$dir/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/t"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs == Set("base_2"), dirs)
    val got = Acid.readTable(spark, s"$dir/t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want && got == Map(1L -> 11.0, 2L -> 30.0), got)
    // life goes on: a post-restore delta applies on the restored
    // base. Row identity is the (originalTransaction, bucket, rowId)
    // triple and the restored rows carry originalTransaction = 2 (the
    // new base txn), so post-restore events must target origTxn 2 —
    // the same lock-step the pre-restore deltas kept with base_1.
    eventsDf(Seq((Acid.OpUpdate, 2L, 2, 2L, 4L, 33.0)))
      .write.orc(s"$dir/t/delta_4")
    val after = Acid.readTable(spark, s"$dir/t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after == Map(1L -> 11.0, 2L -> 33.0), after)
  }

  test("readTable shadows straddling-delta events already folded into " +
      "the base (currentTransaction <= baseTxn dropped)") {
    // the restoreTo crash-window layout: base_3 renamed into place,
    // straddling delta_2_4 not yet deleted. Events ≤ 3 in the range
    // are the base's own folded history — replaying the txn-3 update
    // would tie with the base row at currentTransaction == 3 and
    // resolve nondeterministically; the filter must drop them.
    val dir = graft.sources.OrcIo.scratchDir("acid_straddle")
    Seq((1L, 10.0), (2L, 30.0)).toDF("id", "v").write.orc(s"$dir/t/base_3")
    // delta events carry originalTransaction = 3 (lock-step with the
    // restored base, as post-restore writers do)
    Seq(
      (Acid.OpUpdate, 3L, 1, 1L, 3L, 99.0),  // folded: must be shadowed
      (Acid.OpUpdate, 3L, 2, 2L, 3L, 77.0),  // folded: must be shadowed
      (Acid.OpUpdate, 3L, 1, 1L, 4L, 44.0))  // future: must apply
      .toDF("operation", "originalTransaction", "bucket", "rowId",
        "currentTransaction", "v")
      .withColumn("row", struct(col("rowId").as("id"), col("v")))
      .drop("v")
      .write.orc(s"$dir/t/delta_2_4")
    val got = Acid.readTable(spark, s"$dir/t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 44.0, 2L -> 30.0), got)
    // and a crashed restoreTo(3) re-runs to the exact snapshot: the
    // straddling delta contributes nothing (≤ 3 shadowed, > 3 rolled
    // back), leaving only base_3
    Acid.restoreTo(spark, s"$dir/t", txn = 3L)
    val rerun = Acid.readTable(spark, s"$dir/t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rerun == Map(1L -> 10.0, 2L -> 30.0), rerun)
  }

  test("restoreTo keeps a straddling minor-compacted range until after " +
      "the base rename (no pre-rename window can lose (A, txn] events)") {
    val dir = graft.sources.OrcIo.scratchDir("acid_straddle_restore")
    Seq((1L, 10.0), (2L, 30.0)).toDF("id", "v").write.orc(s"$dir/t/base_1")
    // one minor-compacted range delta_2_4 holding txns 2, 3, 4
    eventsDf(Seq(
      event(Acid.OpUpdate, 1, 1L, 2L, 11.0),
      event(Acid.OpUpdate, 1, 2L, 3L, 31.0),
      event(Acid.OpUpdate, 1, 1L, 4L, 12.0)))
      .write.orc(s"$dir/t/delta_2_4")
    // restore to txn 3: the (1, 3] slice of the range is part of the
    // snapshot and must survive any crash point; the final state folds
    // txns 2-3 and rolls back txn 4
    Acid.restoreTo(spark, s"$dir/t", txn = 3L)
    val got = Acid.readTable(spark, s"$dir/t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 11.0, 2L -> 31.0), got)
    val fs = new org.apache.hadoop.fs.Path(s"$dir/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/t"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs == Set("base_3"), dirs)
  }

  test("compactionTrigger bins consecutive deltas by event quota and " +
      "proposes merges only for multi-delta groups") {
    val dir = graft.sources.OrcIo.scratchDir("acid_trigger")
    Seq((1L, 10.0)).toDF("id", "v").write.orc(s"$dir/t/base_1")
    def delta(txn: Long, nEvents: Int): Unit =
      eventsDf((0 until nEvents).map(i =>
        event(Acid.OpUpdate, i % 4, 100L + i, txn, txn * 1.0)))
        .write.orc(s"$dir/t/delta_$txn")
    delta(2L, 3); delta(3L, 2); delta(4L, 4); delta(5L, 1)
    // quota 4: cumBefore 0,3,5,9 -> groups {2,3}, {4}, {5}
    val got = Acid.compactionTrigger(spark, s"$dir/t", quota = 4L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getBoolean(8)))
    assert(got.toSeq == Seq(
      (2L, 0L, 2L, 3L, 2L, 5L, true),
      (3L, 0L, 2L, 3L, 2L, 5L, true),
      (4L, 1L, 4L, 4L, 1L, 4L, false),
      (5L, 2L, 5L, 5L, 1L, 1L, false)), got.toSeq)
    // deltas at or below the newest base are invisible to the planner
    Seq((1L, 9.0)).toDF("id", "v").write.orc(s"$dir/t2/base_3")
    eventsDf(Seq(event(Acid.OpUpdate, 0, 1L, 2L, 1.0)))
      .write.orc(s"$dir/t2/delta_2")
    eventsDf(Seq(event(Acid.OpUpdate, 0, 1L, 4L, 1.0)))
      .write.orc(s"$dir/t2/delta_4")
    val visible = Acid.compactionTrigger(spark, s"$dir/t2", quota = 10L)
      .collect().map(_.getLong(0)).toSeq
    assert(visible == Seq(4L), visible)
  }

  test("compact rewrites resolved state readable as a plain base") {
    val dir = graft.sources.OrcIo.scratchDir("acid")
    val df = eventsDf(Seq(
      event(Acid.OpInsert, 0, 1L, 1L, 10.0),
      event(Acid.OpUpdate, 0, 1L, 2L, 20.0),
      event(Acid.OpInsert, 0, 2L, 1L, 30.0),
      event(Acid.OpDelete, 0, 2L, 2L, 0.0)))
    Acid.compact(df, s"$dir/base")
    val back = spark.read.orc(s"$dir/base").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(back == Map(1L -> 20.0))
  }

  test("a same-length sidecar rewrite reads back its new stats") {
    val dir = graft.sources.OrcIo.scratchDir("acid_stats_rewrite")
    def carrier(stats: Acid.AcidStats): Unit =
      graft.sources.OrcMeta.writeMetadataFile(s"$dir/_acid_stats.orc",
        Map(Acid.AcidStatsKey -> stats.serialize))
    val f = new java.io.File(s"$dir/_acid_stats.orc")
    carrier(Acid.AcidStats(100, 10, 1))
    val (len, mtime) = (f.length(), f.lastModified())
    assert(Acid.readAcidStats(spark, dir)
      .contains(Acid.AcidStats(100, 10, 1)))
    // same length and, as when both writes land in one mtime tick, the
    // same mtime: only the writer's eviction tells the two files apart
    carrier(Acid.AcidStats(200, 20, 2))
    assert(f.setLastModified(mtime))
    assert(f.length() == len && f.lastModified() == mtime)
    assert(Acid.readAcidStats(spark, dir)
      .contains(Acid.AcidStats(200, 20, 2)))
  }

  test("hive.acid.stats survive delta write and compaction") {
    val dir = graft.sources.OrcIo.scratchDir("acid_stats")
    val df = eventsDf(Seq(
      event(Acid.OpInsert, 0, 1L, 1L, 10.0),
      event(Acid.OpInsert, 0, 2L, 1L, 30.0),
      event(Acid.OpUpdate, 0, 1L, 2L, 20.0),
      event(Acid.OpDelete, 0, 2L, 2L, 0.0)))
    // delta carries the raw event tallies (AcidStats.java serialization)
    Acid.writeDelta(df, s"$dir/delta_1_2")
    assert(Acid.readAcidStats(spark, s"$dir/delta_1_2")
      .contains(Acid.AcidStats(2, 1, 1)))
    // compacted base carries only inserts (the resolved rows)
    Acid.compact(df, s"$dir/base")
    assert(Acid.readAcidStats(spark, s"$dir/base")
      .contains(Acid.AcidStats(1, 0, 0)))
    // and the data files still read normally (sidecar is underscore-
    // prefixed, invisible to the scan)
    assert(spark.read.orc(s"$dir/base").count() == 1L)
  }

  test("minor compaction merges deltas, keeps deletes masking the base") {
    val dir = graft.sources.OrcIo.scratchDir("acid_minor")
    Seq((1L, 10.0), (2L, 30.0), (3L, 70.0)).toDF("id", "v")
      .write.orc(s"$dir/t/base_1")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0),
      event(Acid.OpUpdate, 2, 2L, 2L, 31.0)))
      .write.orc(s"$dir/t/delta_2")
    eventsDf(Seq(
      event(Acid.OpUpdate, 1, 1L, 3L, 12.0),  // supersedes delta_2's
      event(Acid.OpDelete, 3, 3L, 3L, 0.0)))  // must keep masking base
      .write.orc(s"$dir/t/delta_3")
    val before = Acid.readTable(spark, s"$dir/t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val merged = Acid.minorCompact(spark, s"$dir/t")
    assert(merged.endsWith("delta_2_3"))
    // old deltas gone, merged dir present
    val fs = new org.apache.hadoop.fs.Path(s"$dir/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/t"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs == Set("base_1", "delta_2_3"))
    // resolution result unchanged by minor compaction
    val after = Acid.readTable(spark, s"$dir/t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after == before)
    assert(after == Map(1L -> 12.0, 2L -> 31.0))
    // merged delta holds one event per key (update, update, delete)
    assert(Acid.readAcidStats(spark, merged)
      .contains(Acid.AcidStats(0, 2, 1)))
  }

  test("fastCount: base + inserts - deletes equals the resolve-path " +
      "count, before and after minor compaction, updates neutral") {
    val dir = graft.sources.OrcIo.scratchDir("acid_fastcount")
    Seq((1L, 10.0), (2L, 30.0), (3L, 70.0), (4L, 90.0))
      .toDF("id", "v").write.orc(s"$dir/t/base_1")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0),
      event(Acid.OpDelete, 2, 2L, 2L, 0.0)))
      .write.orc(s"$dir/t/delta_2")
    eventsDf(Seq(event(Acid.OpInsert, 5, 5L, 3L, 50.0),
      event(Acid.OpInsert, 6, 6L, 3L, 60.0),
      event(Acid.OpDelete, 3, 3L, 3L, 0.0)))
      .write.orc(s"$dir/t/delta_3")
    def check(): Unit = {
      val r = Acid.fastCount(spark, s"$dir/t").collect()(0)
      // 4 base + 2 inserts - 2 deletes = 4 live rows
      assert(r.getLong(r.fieldIndex("n_base")) == 4L)
      assert(r.getLong(r.fieldIndex("n_ins")) == 2L)
      assert(r.getLong(r.fieldIndex("n_del")) == 2L)
      assert(r.getLong(r.fieldIndex("meta_count")) == 4L)
      assert(Acid.readTable(spark, s"$dir/t").rdd.count() == 4L)
    }
    check()
    // minor compaction folds per-key event chains; with no
    // insert→delete annihilation present, the ledger is conserved
    Acid.minorCompact(spark, s"$dir/t")
    check()
  }

  test("fastCount contract boundary: a minor-compacted insert→delete " +
      "chain breaks the ledger and the consistency witness says so") {
    val dir = graft.sources.OrcIo.scratchDir("acid_fastcount_annihil")
    Seq((1L, 10.0), (2L, 30.0)).toDF("id", "v")
      .write.orc(s"$dir/t/base_1")
    // key 9 is born in delta_2 and dies in delta_3
    eventsDf(Seq(event(Acid.OpInsert, 9, 9L, 2L, 90.0)))
      .write.orc(s"$dir/t/delta_2")
    eventsDf(Seq(event(Acid.OpDelete, 9, 9L, 3L, 0.0)))
      .write.orc(s"$dir/t/delta_3")
    // pre-compaction: both events visible, ledger exact (2 + 1 - 1)
    val before = Acid.fastCount(spark, s"$dir/t").collect()(0)
    assert(before.getLong(before.fieldIndex("meta_count")) == 2L)
    assert(Acid.readTable(spark, s"$dir/t").rdd.count() == 2L)
    // post-compaction the chain folds to the lone delete: the fast
    // path under-counts by one, and the witness must expose it
    Acid.minorCompact(spark, s"$dir/t")
    val after = Acid.fastCount(spark, s"$dir/t").collect()(0)
    assert(after.getLong(after.fieldIndex("n_ins")) == 0L)
    assert(after.getLong(after.fieldIndex("n_del")) == 1L)
    assert(after.getLong(after.fieldIndex("meta_count")) == 1L)
    assert(Acid.readTable(spark, s"$dir/t").rdd.count() == 2L,
      "resolve path must stay correct")
    // major compaction resets the ledger (fresh base, no deltas):
    // the fast path is exact again — the scaladoc's "always safe"
    Acid.majorCompact(spark, s"$dir/t")
    val fresh = Acid.fastCount(spark, s"$dir/t").collect()(0)
    assert(fresh.getLong(fresh.fieldIndex("n_base")) == 2L)
    assert(fresh.getLong(fresh.fieldIndex("n_ins")) == 0L)
    assert(fresh.getLong(fresh.fieldIndex("n_del")) == 0L)
    assert(fresh.getLong(fresh.fieldIndex("meta_count")) == 2L)
  }

  test("executeTriggerPlan: do_merge groups collapse to one range " +
      "dir, sub-quota groups stay untouched, resolution conserved") {
    val rows = Acid.triggerExecQuery(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // layout = plan, for every group
    rows.foreach { r =>
      val expect = if (r.getBoolean(5)) 1L else r.getLong(3)
      assert(r.getLong(6) == expect,
        s"group ${r.getLong(0)}: post_dirs ${r.getLong(6)} != $expect")
    }
    // at least one group actually merged at this SF (quota n/12 vs
    // the modular masses guarantees a 2+ group)
    assert(rows.exists(_.getBoolean(5)), "no group merged — fixture " +
      "no longer exercises the executor")
    // resolution witness is one consistent value
    assert(rows.map(_.getLong(7)).distinct.length == 1)
  }

  test("purgeKeys: erasure beats time travel at every snapshot, " +
      "sidecars recompute, second purge is a no-op") {
    val rows = Acid.purgeQuery(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))
    // the gate's own witness, re-asserted here for the spec reader:
    // no snapshot resurrects a subject
    assert(rows.forall(_.getLong(2) == 0L))
    // counts strictly shrink from asof 2 to 3 (delete delta), grow
    // at 4 (insert delta) — history around the purge stays alive
    assert(rows(1).getLong(1) < rows(0).getLong(1))
    assert(rows(2).getLong(1) > rows(1).getLong(1))
    // build a tiny layout directly to pin sidecar recomputation and
    // idempotence
    import SparkSpec.spark.implicits._
    val dir = graft.sources.OrcIo.scratchDir("purge_spec")
    graft.sources.OrcIo.write(
      Seq((1L, "a"), (2L, "b"), (23L, "x"), (46L, "y"))
        .toDF("id", "v"), s"$dir/t/base_1")
    Acid.writeDelta(
      Seq((Acid.OpInsert, 1L, 0, 69L, 2L, 69L, "z"))
        .toDF("operation", "originalTransaction", "bucket", "rowId",
          "currentTransaction", "rid", "v")
        .select(col("operation"), col("originalTransaction"),
          col("bucket"), col("rowId"), col("currentTransaction"),
          struct(col("rid").as("id"), col("v")).as("row")),
      s"$dir/t/delta_2")
    val subjects = Set(23L, 46L, 69L)
    Acid.purgeKeys(spark, s"$dir/t", subjects, rowIdCol = "id")
    val live = Acid.readTable(spark, s"$dir/t", rowIdCol = "id")
      .rdd.map(_.getLong(0)).collect().toSet
    assert(live == Set(1L, 2L))
    // sidecar recomputed: the purged insert is gone from the stats
    val st = Acid.readAcidStats(spark, s"$dir/t/delta_2")
    assert(st.exists(s => s.inserts == 0L && s.deletes == 0L), s"$st")
    // idempotent: purging again changes nothing
    Acid.purgeKeys(spark, s"$dir/t", subjects, rowIdCol = "id")
    val again = Acid.readTable(spark, s"$dir/t", rowIdCol = "id")
      .rdd.map(_.getLong(0)).collect().toSet
    assert(again == live)
  }

  test("purgeKeys: a crash inside the swap window self-heals on the " +
      "next run instead of silently dropping history") {
    import SparkSpec.spark.implicits._
    val dir = graft.sources.OrcIo.scratchDir("purge_crash_spec")
    graft.sources.OrcIo.write(
      Seq((1L, "a"), (2L, "b"), (23L, "x")).toDF("id", "v"),
      s"$dir/t/base_1")
    Acid.writeDelta(
      Seq((Acid.OpInsert, 1L, 0, 69L, 2L, 69L, "z"),
        (Acid.OpInsert, 1L, 0, 70L, 2L, 70L, "w"))
        .toDF("operation", "originalTransaction", "bucket", "rowId",
          "currentTransaction", "rid", "v")
        .select(col("operation"), col("originalTransaction"),
          col("bucket"), col("rowId"), col("currentTransaction"),
          struct(col("rid").as("id"), col("v")).as("row")),
      s"$dir/t/delta_2")
    // simulate the crash state: the aside-rename happened (live
    // delta_2 gone, complete copy at .purged_old_delta_2) but the
    // tmp rename-in never ran; a half-written tmp is also present
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$dir/t")
    val fs = root.getFileSystem(conf)
    assert(fs.rename(new org.apache.hadoop.fs.Path(root, "delta_2"),
      new org.apache.hadoop.fs.Path(root, ".purged_old_delta_2")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, ".purge_tmp_delta_2"))
    // pre-heal: reads silently lose the delta (the hazard ADVICE r13
    // flagged — no loud failure)
    val lost = Acid.readTable(spark, s"$dir/t", rowIdCol = "id")
      .rdd.map(_.getLong(0)).collect().toSet
    assert(lost == Set(1L, 2L, 23L))
    // re-running purge heals the stranded aside copy FIRST, then
    // applies the erasure to the restored history
    Acid.purgeKeys(spark, s"$dir/t", Set(23L, 69L), rowIdCol = "id")
    val healed = Acid.readTable(spark, s"$dir/t", rowIdCol = "id")
      .rdd.map(_.getLong(0)).collect().toSet
    assert(healed == Set(1L, 2L, 70L),
      s"delta history not restored+purged: $healed")
    // no debris left behind
    val leftovers = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith(".purged_old_") ||
        n.startsWith(".purge_tmp_"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("canary: a column-pruned read of an ACID-schema delta still " +
      "throws, the full-row reader does not") {
    // the vectorized ORC reader remaps requested column ids of files
    // carrying the ACID event schema (checkAcidSchema), so every
    // tally of delta files goes through the row reader. If this test
    // fails, the bundled reader has changed and the row-reader
    // workarounds in Acid can be revisited.
    val dir = graft.sources.OrcIo.scratchDir("acid_canary")
    Acid.writeDelta(eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0),
      event(Acid.OpDelete, 2, 2L, 2L, 0.0))), s"$dir/delta_2")
    val df = spark.read.orc(s"$dir/delta_2")
    var root: Throwable = intercept[Exception](df.count())
    while (root.getCause != null) root = root.getCause
    assert(root.isInstanceOf[ArrayIndexOutOfBoundsException], root)
    assert(df.rdd.count() == 2L)
  }

  private def dirsOf(t: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(t)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(_.isDirectory).map(_.getPath.getName).toSet
  }

  private def state(t: String): Map[Long, Double] =
    Acid.readTable(spark, t).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("majorCompact on an already-compacted table replaces the " +
      "colliding base_maxTxn with the same state") {
    val dir = graft.sources.OrcIo.scratchDir("acid_major_again")
    Seq((1L, 10.0), (2L, 30.0)).toDF("id", "v").write.orc(s"$dir/t/base_1")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0)))
      .write.orc(s"$dir/t/delta_2")
    eventsDf(Seq(event(Acid.OpDelete, 2, 2L, 3L, 0.0)))
      .write.orc(s"$dir/t/delta_3")
    Acid.majorCompact(spark, s"$dir/t")
    assert(dirsOf(s"$dir/t") == Set("base_3"))
    // base_3 is now both the input and the output name
    val again = Acid.majorCompact(spark, s"$dir/t")
    assert(again.endsWith("base_3"), again)
    assert(dirsOf(s"$dir/t") == Set("base_3"))
    assert(state(s"$dir/t") == Map(1L -> 11.0))
    assert(Acid.readAcidStats(spark, again).contains(Acid.AcidStats(1, 0, 0)))
  }

  test("directory names order numerically: base_10 over base_2, " +
      "delta_10 after delta_9") {
    val dir = graft.sources.OrcIo.scratchDir("acid_numeric")
    // two bases, as a compaction crash can leave them; base_10 is the
    // newer state and delta_9 is folded into it
    Seq((1L, 2.0)).toDF("id", "v").write.orc(s"$dir/t/base_2")
    Seq((1L, 10.0)).toDF("id", "v").write.orc(s"$dir/t/base_10")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 9L, 9.0)))
      .write.orc(s"$dir/t/delta_9")
    assert(state(s"$dir/t") == Map(1L -> 10.0))
    val e = intercept[IllegalArgumentException](
      Acid.readTableAsOf(spark, s"$dir/t", 9L))
    assert(e.getMessage.contains("before base_10"), e.getMessage)
    // past the base: delta_11 and delta_12 come in txn order
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 11L, 11.0)))
      .write.orc(s"$dir/t/delta_11")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 12L, 12.0)))
      .write.orc(s"$dir/t/delta_12")
    val plan = Acid.compactionTrigger(spark, s"$dir/t", quota = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plan.toSeq == Seq((11L, 11L), (12L, 12L)), plan.toSeq)
    // and a delta_9 .. delta_10 pair merges to delta_9_10, not
    // delta_10_9
    val d2 = graft.sources.OrcIo.scratchDir("acid_numeric2")
    Seq((1L, 1.0)).toDF("id", "v").write.orc(s"$d2/t/base_1")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 9L, 9.0)))
      .write.orc(s"$d2/t/delta_9")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 10L, 10.0)))
      .write.orc(s"$d2/t/delta_10")
    assert(Acid.minorCompact(spark, s"$d2/t").endsWith("/delta_9_10"))
    assert(state(s"$d2/t") == Map(1L -> 10.0))
  }

  test("staging and purge-debris directories are not part of the table") {
    val dir = graft.sources.OrcIo.scratchDir("acid_debris")
    Seq((1L, 10.0), (2L, 30.0)).toDF("id", "v").write.orc(s"$dir/t/base_1")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0)))
      .write.orc(s"$dir/t/delta_2")
    // a crashed compaction's staged base, and purge swap leftovers
    // whose live directory is present
    Seq((7L, 70.0)).toDF("id", "v").write.orc(s"$dir/t/_tmp_base_9")
    eventsDf(Seq(event(Acid.OpDelete, 1, 1L, 3L, 0.0)))
      .write.orc(s"$dir/t/.purged_old_delta_3")
    eventsDf(Seq(event(Acid.OpInsert, 0, 8L, 4L, 80.0)))
      .write.orc(s"$dir/t/.purge_tmp_delta_4")
    assert(state(s"$dir/t") == Map(1L -> 11.0, 2L -> 30.0))
    val trig = Acid.compactionTrigger(spark, s"$dir/t", quota = 10L)
      .collect().map(_.getLong(0)).toSeq
    assert(trig == Seq(2L), trig)
    val c = Acid.fastCount(spark, s"$dir/t").collect()(0)
    assert(c.getLong(c.fieldIndex("meta_count")) == 2L)
    assert(Acid.changesBetween(spark, s"$dir/t", 1L, 9L).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    Acid.majorCompact(spark, s"$dir/t")
    assert(dirsOf(s"$dir/t") == Set("base_2", "_tmp_base_9",
      ".purged_old_delta_3", ".purge_tmp_delta_4"))
  }
}
