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
      event(Acid.OpUpdate, 2, 2L, 3L, 31.0),
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
        Map(Acid.AcidStatsKey -> stats.serialize),
        spark.sparkContext.hadoopConfiguration)
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

  /** `body` with the driver paths turned off. */
  private def windowPath[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    try { spark.conf.set(key, "-1"); body } finally spark.conf.unset(key)
  }

  /** `read` on both of readTable's paths: the driver path (the default
    * `spark.sql.autoBroadcastJoinThreshold`) and the window path (`-1`).
    * Their rows must be equal. The driver path's plan must hold no
    * Window, and the window path's must hold one when `windowed` (a
    * table with visible deltas). Returns the rows, sorted by the first
    * column. */
  private def bothPaths(windowed: Boolean = true)(
      read: => org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    def run() = {
      val df = read
      (df.collect().toSeq.sortBy(r => (r.getLong(0), r.toString)),
        df.queryExecution.executedPlan.toString)
    }
    val (driver, driverPlan) = run()
    val (window, windowPlan) = windowPath(run())
    assert(driver == window)
    assert(!driverPlan.contains("Window"), driverPlan)
    assert(windowPlan.contains("Window") == windowed, windowPlan)
    driver
  }

  private def pairs(rows: Seq[org.apache.spark.sql.Row]) =
    rows.map(r => r.getLong(0) -> r.getDouble(1))

  test("readTable's driver path and window path give equal rows") {
    val dir = graft.sources.OrcIo.scratchDir("acid_paths")
    def table(name: String, base: Seq[(Long, Double)], baseTxn: Long = 1L)(
        deltas: (String, Seq[(Int, Long, Int, Long, Long, Double)])*)
        : String = {
      val t = s"$dir/$name"
      base.toDF("id", "v").write.orc(s"$t/base_$baseTxn")
      deltas.foreach { case (d, evs) => eventsDf(evs).write.orc(s"$t/$d") }
      t
    }
    def read(t: String, asOf: Option[Long] = None, windowed: Boolean = true) =
      pairs(bothPaths(windowed)(Acid.readTable(spark, t, asOf = asOf)))
    val (ins, upd, del) = (Acid.OpInsert, Acid.OpUpdate, Acid.OpDelete)
    // a straddling delta_A_B: its events ≤ the base txn are shadowed
    val straddle = table("straddle", Seq(1L -> 10.0, 2L -> 30.0), 3L)(
      "delta_2_4" -> Seq((upd, 3L, 1, 1L, 3L, 99.0), (upd, 3L, 2, 2L, 3L, 77.0),
        (upd, 3L, 1, 1L, 4L, 44.0)))
    assert(read(straddle) == Seq(1L -> 44.0, 2L -> 30.0))
    // snapshots 1–3, before and after minor compaction
    val asOf = table("asof", Seq(1L -> 10.0, 2L -> 30.0))(
      "delta_2" -> Seq(event(upd, 1, 1L, 2L, 11.0)),
      "delta_3" -> Seq(event(del, 2, 2L, 3L, 0.0), event(ins, 3, 3L, 3L, 50.0)))
    val snapshots = Map(1L -> Seq(1L -> 10.0, 2L -> 30.0),
      2L -> Seq(1L -> 11.0, 2L -> 30.0), 3L -> Seq(1L -> 11.0, 3L -> 50.0))
    snapshots.foreach { case (t, want) =>
      assert(read(asOf, Some(t), windowed = t > 1L) == want, t)
    }
    Acid.minorCompact(spark, asOf)
    Seq(2L, 3L).foreach(t => assert(read(asOf, Some(t)) == snapshots(t), t))
    // a minor-compacted insert→delete chain folds to the lone delete
    val chain = table("chain", Seq(1L -> 10.0, 2L -> 30.0))(
      "delta_2" -> Seq(event(ins, 1, 5L, 2L, 70.0), event(upd, 1, 1L, 2L, 12.0)),
      "delta_3" -> Seq(event(del, 1, 5L, 3L, 0.0)))
    Acid.minorCompact(spark, chain)
    assert(read(chain) == Seq(1L -> 12.0, 2L -> 30.0))
    // an insert under a new originalTransaction is a new row, even on
    // a rowId the base holds
    val fresh = table("fresh", Seq(1L -> 10.0, 2L -> 30.0))(
      "delta_2" -> Seq((ins, 2L, 1, 1L, 2L, 15.0)))
    assert(read(fresh) == Seq(1L -> 10.0, 1L -> 15.0, 2L -> 30.0))
    // an event whose bucket is not rowId % 4 does not key a base row
    val bucket = table("bucket", Seq(1L -> 10.0, 2L -> 30.0))(
      "delta_2" -> Seq((upd, 1L, 3, 1L, 2L, 16.0)))
    assert(read(bucket) == Seq(1L -> 10.0, 1L -> 16.0, 2L -> 30.0))
    // two events on one key at one txn: the higher operation wins, in
    // either order
    val ties = table("ties", Seq(1L -> 10.0, 2L -> 30.0, 3L -> 40.0))(
      "delta_2" -> Seq(event(upd, 1, 1L, 2L, 11.0), event(del, 1, 1L, 2L, 0.0),
        event(del, 2, 2L, 2L, 0.0), event(upd, 2, 2L, 2L, 21.0),
        event(ins, 3, 3L, 2L, 41.0), event(upd, 3, 3L, 2L, 42.0)))
    assert(read(ties) == Seq(3L -> 42.0))
    // no visible delta: the base as it is
    val folded = table("folded", Seq(1L -> 10.0), 3L)(
      "delta_2" -> Seq(event(upd, 1, 1L, 2L, 99.0)))
    assert(read(folded, windowed = false) == Seq(1L -> 10.0))
  }

  test("readTable resolves on the driver only up to driverMergeLimit: " +
      "the measured cap, lowered to the broadcast threshold") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def limitAt(v: String) =
      try { spark.conf.set(key, v); Acid.driverMergeLimit(spark) }
      finally spark.conf.unset(key)
    assert(Acid.driverMergeLimit(spark) == Acid.DriverMergeMaxBytes)
    assert(limitAt("1g") == Acid.DriverMergeMaxBytes)
    assert(limitAt("1000") == 1000L && limitAt("-1") == -1L)
    // a delta set just over the cap takes the window path by default
    val dir = graft.sources.OrcIo.scratchDir("acid_cut")
    (1L to 100L).map(i => (i, 1.0)).toDF("id", "v")
      .write.orc(s"$dir/t/base_1")
    spark.range(1, 40001).select(lit(Acid.OpUpdate).as("operation"),
      lit(1L).as("originalTransaction"), (col("id") % 4).cast("int")
        .as("bucket"), col("id").as("rowId"),
      lit(2L).as("currentTransaction"),
      struct(col("id"), rand(11).as("v")).as("row"))
      .write.orc(s"$dir/t/delta_2")
    val bytes = graft.sources.OrcMeta.listing(spark, s"$dir/t/delta_2")
      .map(_._2.length).sum
    assert(bytes > Acid.DriverMergeMaxBytes, bytes)
    val df = Acid.readTable(spark, s"$dir/t")
      .agg(count(lit(1)), sum(col("id")))
    assert(df.queryExecution.executedPlan.toString.contains("Window"))
    assert(df.collect()(0) ==
      org.apache.spark.sql.Row(40000L, 40000L * 40001L / 2))
  }

  test("readTable keeps base rows with a null or repeated rowId on the " +
      "driver path, where the window keeps one per key") {
    val dir = graft.sources.OrcIo.scratchDir("acid_basekeys")
    Seq((None, 5.0), (Some(2L), 20.0), (Some(2L), 21.0), (Some(1L), 10.0))
      .toDF("id", "v").write.orc(s"$dir/t/base_1")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0)))
      .write.orc(s"$dir/t/delta_2")
    def rows() = Acid.readTable(spark, s"$dir/t").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getDouble(1))
      .sortBy(_.toString).toSeq
    assert(rows() == Seq(None -> 5.0, Some(1L) -> 11.0, Some(2L) -> 20.0,
      Some(2L) -> 21.0))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val window = try { spark.conf.set(key, "-1"); rows() }
      finally spark.conf.unset(key)
    assert(window.size == 3, window)
    assert(window.contains(None -> 5.0) && window.contains(Some(1L) -> 11.0))
    assert(window.count(_._1.contains(2L)) == 1, window)
  }

  /** Build at `t` a table of every payload type: base_1 of ids 1–4,
    * delta_2 updating 1–3 to edge values (3 to all nulls) and inserting
    * 5, delta_3 deleting 4. */
  private def payloadTable(t: String): Unit = {
    val cols = Seq("id", "i", "b", "d", "dec", "s", "bin", "dt", "ts", "arr",
      "m", "st")
    def rows(sql: String) = spark.sql(sql).toDF(cols: _*)
    // ids 1–4: plain values
    rows("""select id, cast(id as int), id * 1000000007, id / 3.0d,
      cast(id * 1.25 as decimal(38,10)), concat('s', id),
      cast(concat('b', id) as binary), date_add(date'2000-01-01', cast(id as int)),
      timestamp'2001-02-03 04:05:06.123456' + make_interval(0, 0, 0, cast(id as int)),
      array(cast(id as int), null), map('k', cast(id as int)),
      named_struct('a', cast(id as int), 'n', named_struct('c', concat('n', id)))
      from range(1, 5)""").write.orc(s"$t/base_1")
    // updates of 1–3 and an insert of 5 carry the edge values; 3 is
    // all nulls; 4 is deleted
    val edge = rows("""select * from values
      (1L, 2147483647, 9223372036854775807L, -1.5e300d,
       cast('1234567890123456789012345678.0123456789' as decimal(38,10)),
       'ünïcødé', X'00FF7F', date'1500-01-01',
       timestamp'1850-03-04 05:06:07.123456', array(1, 2, 3),
       map('a', 1, 'b', 2), named_struct('a', 7, 'n', named_struct('c', 'x'))),
      (2L, -2147483648, -9223372036854775808L, cast('NaN' as double),
       cast('-0.0000000001' as decimal(38,10)), '', X'', date'2100-01-01',
       timestamp'2040-03-04 05:06:07.654321', array(), map(),
       named_struct('a', null, 'n', named_struct('c', null))),
      (3L, null, null, null, null, null, null, null, null, null, null, null),
      (5L, 0, 0L, 0.0d, cast('0' as decimal(38,10)), 's5', X'05',
       date'1500-01-01', timestamp'2040-12-31 23:59:59.999999',
       array(null), map('z', null), named_struct('a', 5, 'n', null))""")
    def asEvents(df: org.apache.spark.sql.DataFrame, op: Int, txn: Long) =
      df.select(lit(op).as("operation"), lit(1L).as("originalTransaction"),
        (col("id") % 4).cast("int").as("bucket"), col("id").as("rowId"),
        lit(txn).as("currentTransaction"), struct(cols.map(col): _*).as("row"))
    asEvents(edge.filter(col("id") =!= 5L), Acid.OpUpdate, 2L)
      .unionByName(asEvents(edge.filter(col("id") === 5L), Acid.OpInsert, 2L))
      .write.orc(s"$t/delta_2")
    asEvents(spark.read.orc(s"$t/base_1").filter(col("id") === 4L),
      Acid.OpDelete, 3L).write.orc(s"$t/delta_3")
  }

  test("every payload type reads the same on both readTable paths") {
    val dir = graft.sources.OrcIo.scratchDir("acid_payload")
    payloadTable(s"$dir/t")
    val got = bothPaths()(Acid.readTable(spark, s"$dir/t"))
    assert(got.map(_.getLong(0)) == Seq(1L, 2L, 3L, 5L))
    assert(got.map(r => Option(r.getDate(7)).map(_.toString)) ==
      Seq(Some("1500-01-01"), Some("2100-01-01"), None, Some("1500-01-01")))
    assert(got.map(r => Option(r.getTimestamp(8))) == Seq(
      "1850-03-04 05:06:07.123456", "2040-03-04 05:06:07.654321", null,
      "2040-12-31 23:59:59.999999").map(t =>
        Option(t).map(java.sql.Timestamp.valueOf)))
    assert(got.head.getDecimal(4) ==
      new java.math.BigDecimal("1234567890123456789012345678.0123456789"))
    assert(got(2).toSeq.tail.forall(_ == null), got(2))
  }

  test("readTable on a small table starts no Spark job, and a count " +
      "over it neither windows nor hash-shuffles") {
    val dir = graft.sources.OrcIo.scratchDir("acid_nojob")
    (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v")
      .write.orc(s"$dir/t/base_1")
    eventsDf((1L to 10L).map(i => event(Acid.OpUpdate, (i % 4).toInt, i, 2L, -1.0)))
      .write.orc(s"$dir/t/delta_2")
    eventsDf((5L to 20L).map(i => event(Acid.OpDelete, (i % 4).toInt, i, 3L, 0.0)))
      .write.orc(s"$dir/t/delta_3")
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsIn("mor-driver") { df = Acid.readTable(spark, s"$dir/t") } == 0)
    val counted = df.agg(count(lit(1)), sum(col("v")))
    val plan = counted.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("hashpartitioning"), plan)
    val r = counted.collect()(0)
    // 1–4 updated to -1, 5–20 deleted, 21–100 untouched
    assert(r.getLong(0) == 84L && r.getDouble(1) == -4.0 + (21 to 100).sum)
  }

  /** The names in directory `d` a listing shows, without checksums. */
  private def namesIn(d: String): Set[String] =
    new java.io.File(d).list().filterNot(_.startsWith(".")).toSet

  /** A value of a row UnionOrc read, as text: byte arrays, nested rows,
    * sequences and maps by their contents. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.mkString("X[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq
      .map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
      .mkString("{", ",", "}")
    case q: scala.collection.Seq[_] => q.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** The events of the data files under `dir`, in file order, as text. */
  private def eventsIn(dir: String): Seq[String] =
    graft.sources.OrcMeta.dataFiles(spark, dir)
      .flatMap(f => graft.sources.UnionOrc.localRows(f).map(canon))

  test("a small local writeDelta and minorCompact start no Spark job; " +
      "each delta is one data file, _SUCCESS and its sidecar") {
    val dir = graft.sources.OrcIo.scratchDir("acid_commit_nojob")
    (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v")
      .write.orc(s"$dir/t/base_1")
    val updates = eventsDf((1L to 10L).map(i =>
      event(Acid.OpUpdate, (i % 4).toInt, i, 2L, -1.0)))
    assert(jobsIn("commit-driver") {
      // the second write replaces the first, as an overwrite does
      Acid.writeDelta(updates.limit(3), s"$dir/t/delta_2")
      Acid.writeDelta(updates, s"$dir/t/delta_2")
      Acid.writeDelta(eventsDf((5L to 20L).map(i =>
        event(Acid.OpDelete, (i % 4).toInt, i, 3L, 0.0))), s"$dir/t/delta_3")
    } == 0)
    def oneFile(d: String): Unit = {
      val names = namesIn(d)
      assert(names.size == 3 && names("_SUCCESS") &&
        names("_acid_stats.orc"), names)
      assert(names.exists(n => n.startsWith("part-00000-") &&
        n.endsWith("-c000.zlib.orc")), names)
    }
    oneFile(s"$dir/t/delta_2"); oneFile(s"$dir/t/delta_3")
    assert(Acid.readAcidStats(spark, s"$dir/t/delta_2")
      .contains(Acid.AcidStats(0, 10, 0)))
    assert(Acid.readAcidStats(spark, s"$dir/t/delta_3")
      .contains(Acid.AcidStats(0, 0, 16)))
    val before = state(s"$dir/t")
    var merged = ""
    assert(jobsIn("minor-driver") {
      merged = Acid.minorCompact(spark, s"$dir/t")
    } == 0)
    assert(dirsOf(s"$dir/t") == Set("base_1", "delta_2_3"))
    oneFile(merged)
    // 1–4 updated, 5–20 deleted: one event per key, in key order
    assert(Acid.readAcidStats(spark, merged)
      .contains(Acid.AcidStats(0, 4, 16)))
    val keys = graft.sources.OrcMeta.dataFiles(spark, merged)
      .flatMap(graft.sources.UnionOrc.localRows(_))
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(keys == keys.sorted && keys.size == 20, keys)
    assert(state(s"$dir/t") == before && before.size == 84)
    // with the driver paths off, the same calls run Spark jobs
    assert(jobsIn("commit-window")(windowPath(
      Acid.writeDelta(updates, s"$dir/t/delta_4"))) > 0)
  }

  test("a driver-written delta is the file a one-task Spark write leaves") {
    val dir = graft.sources.OrcIo.scratchDir("acid_same_file")
    val events = Seq((1L, "1500-01-01", "1850-03-04 05:06:07.123456"),
        (2L, "2100-01-01", "2040-03-04 05:06:07.654321"))
      .toDF("k", "d", "ts")
      .select(lit(Acid.OpUpdate).as("operation"),
        lit(1L).as("originalTransaction"), (col("k") % 4).cast("int")
          .as("bucket"), col("k").as("rowId"),
        lit(2L).as("currentTransaction"), struct(col("k").as("id"),
          to_date(col("d")).as("d"), to_timestamp(col("ts")).as("ts"))
          .as("row"))
    Acid.writeDelta(events, s"$dir/driver")
    graft.sources.OrcIo.write(events.coalesce(1), s"$dir/spark")
    val Seq(d, w) = Seq("driver", "spark").map(n =>
      graft.sources.OrcMeta.dataFiles(spark, s"$dir/$n"))
    assert(d.size == 1 && w.size == 1)
    def bytes(f: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new java.net.URI(f)))
    assert(java.util.Arrays.equals(bytes(d.head), bytes(w.head)))
    assert(graft.sources.OrcMeta.userMetadata(spark, d.head).collect()
      .exists(_.getString(1) == "org.apache.spark.version"))
    // dates rebase to the hybrid calendar on write and back on read
    assert(spark.read.orc(s"$dir/driver").collect().map(_.getStruct(5))
      .map(r => r.getDate(1).toString -> r.getTimestamp(2).toString).toSet ==
      Set("1500-01-01" -> "1850-03-04 05:06:07.123456",
        "2100-01-01" -> "2040-03-04 05:06:07.654321"))
  }

  test("minor compaction on the driver and through the window give the " +
      "same events and hive.acid.stats") {
    val dir = graft.sources.OrcIo.scratchDir("acid_minor_paths")
    val (ins, upd, del) = (Acid.OpInsert, Acid.OpUpdate, Acid.OpDelete)
    def base(t: String, txn: Long): Unit =
      Seq((1L, 10.0), (2L, 30.0), (3L, 40.0), (4L, 50.0)).toDF("id", "v")
        .write.orc(s"$t/base_$txn")
    def deltas(t: String, ds: (String, Seq[(Int, Long, Int, Long, Long, Double)])*)
        : Unit = ds.foreach { case (d, evs) =>
      eventsDf(evs).write.orc(s"$t/$d")
    }
    // each case builds one table twice and compacts `subset` of it
    val cases = Seq[(String, Option[Seq[String]], String => Unit)](
      // equal-txn ties go to the higher operation, in either order,
      // and deletes stay to mask the base
      ("ties", None, t => { base(t, 1L); deltas(t,
        "delta_2" -> Seq(event(upd, 1, 1L, 2L, 11.0), event(del, 1, 1L, 2L, 0.0),
          event(del, 2, 2L, 2L, 0.0), event(upd, 2, 2L, 2L, 21.0),
          event(ins, 3, 3L, 2L, 41.0), event(upd, 3, 3L, 2L, 42.0)),
        "delta_3" -> Seq(event(del, 0, 4L, 3L, 0.0), event(ins, 1, 5L, 3L, 60.0),
          event(upd, 3, 3L, 3L, 43.0))) }),
      // a straddling delta_A_B compacts with a later delta; minor
      // compaction keeps its events at or below the base txn
      ("straddle", None, t => { base(t, 3L); deltas(t,
        "delta_2_4" -> Seq((upd, 3L, 1, 1L, 3L, 99.0), (upd, 3L, 2, 2L, 3L, 77.0),
          (upd, 3L, 1, 1L, 4L, 44.0)),
        "delta_5" -> Seq((del, 3L, 2, 2L, 5L, 0.0), (upd, 3L, 1, 1L, 5L, 45.0))) }),
      // a subset: delta_2 is left as it is
      ("subset", Some(Seq("delta_3", "delta_4")), t => { base(t, 1L); deltas(t,
        "delta_2" -> Seq(event(upd, 1, 1L, 2L, 11.0)),
        "delta_3" -> Seq(event(upd, 1, 1L, 3L, 12.0), event(del, 2, 2L, 3L, 0.0)),
        "delta_4" -> Seq(event(upd, 1, 1L, 4L, 13.0), event(ins, 1, 9L, 4L, 90.0))) }),
      ("payload", None, payloadTable))
    cases.foreach { case (name, subset, build) =>
      val (d, w) = (s"$dir/$name-driver", s"$dir/$name-window")
      build(d); build(w)
      var outD = ""
      assert(jobsIn(s"minor-$name") {
        outD = Acid.minorCompact(spark, d, subset)
      } == 0, name)
      val outW = windowPath(Acid.minorCompact(spark, w, subset))
      assert(outD.stripPrefix(d) == outW.stripPrefix(w), name)
      assert(dirsOf(d) == dirsOf(w), name)
      assert(eventsIn(outD).sorted == eventsIn(outW).sorted, name)
      val stats = Acid.readAcidStats(spark, outD)
      assert(stats.nonEmpty && stats == Acid.readAcidStats(spark, outW), name)
      assert(bothPaths()(Acid.readTable(spark, d)).map(canon) ==
        bothPaths()(Acid.readTable(spark, w)).map(canon), name)
    }
    assert(dirsOf(s"$dir/subset-driver") ==
      Set("base_1", "delta_2", "delta_3_4"))
    assert(Acid.readAcidStats(spark, s"$dir/ties-driver/delta_2_3")
      .contains(Acid.AcidStats(1, 1, 3)))
  }

  test("fastCount and changesBetween agree on tables written through " +
      "both commit paths and both minor-compaction paths") {
    val dir = graft.sources.OrcIo.scratchDir("acid_ledger_paths")
    val (ins, upd, del) = (Acid.OpInsert, Acid.OpUpdate, Acid.OpDelete)
    def build(t: String): Unit = {
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v")
        .write.orc(s"$t/base_1")
      Acid.writeDelta(eventsDf((1L to 6L).map(i =>
          event(upd, (i % 4).toInt, i, 2L, -i.toDouble)) ++
        (21L to 23L).map(i => event(ins, (i % 4).toInt, i, 2L, i * 1.0))),
        s"$t/delta_2")
      Acid.writeDelta(eventsDf((4L to 9L).map(i =>
        event(del, (i % 4).toInt, i, 3L, 0.0))), s"$t/delta_3")
      Acid.writeDelta(eventsDf(Seq(event(upd, 2, 2L, 4L, 2.5),
        event(ins, 0, 24L, 4L, 24.0))), s"$t/delta_4")
    }
    val (d, w) = (s"$dir/driver", s"$dir/window")
    build(d); windowPath(build(w))
    assert(namesIn(s"$d/delta_2").count(_.endsWith(".orc")) == 2)
    assert(namesIn(s"$w/delta_2").count(_.endsWith(".orc")) > 2)
    def same(): Unit = {
      val Seq(fd, fw) = Seq(d, w).map(t =>
        Acid.fastCount(spark, t).collect().map(canon).toSeq)
      assert(fd == fw)
      val live = Acid.readTable(spark, d).rdd.count()
      assert(fd.head.contains(s",$live)"), fd)
      Seq(1L -> 4L, 2L -> 3L, 3L -> 4L).foreach { case (from, to) =>
        val Seq(cd, cw) = Seq(d, w).map(t =>
          Acid.changesBetween(spark, t, from, to).collect().map(canon)
            .sorted.toSeq)
        assert(cd == cw && cd.nonEmpty, (from, to))
      }
    }
    same()
    Acid.minorCompact(spark, d, Some(Seq("delta_3", "delta_4")))
    windowPath(Acid.minorCompact(spark, w, Some(Seq("delta_3", "delta_4"))))
    same()
  }

  /** Write `events` as the one data file `name` of directory `d`. */
  private def eventFile(d: String, name: String,
      events: Seq[(Int, Long, Int, Long, Long, Double)]): Unit = {
    val tmp = s"${graft.sources.OrcIo.scratchDir("acid_event_file")}/w"
    eventsDf(events).coalesce(1).write.orc(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".orc")).head
    new java.io.File(d).mkdirs()
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(d, name))
  }

  test("on the driver paths, of two events equal on txn and operation " +
      "the one in the file that sorts later by name wins") {
    val dir = graft.sources.OrcIo.scratchDir("acid_tie_files")
    val upd = Acid.OpUpdate
    (1L to 4L).map(i => (i, i * 1.0)).toDF("id", "v")
      .write.orc(s"$dir/t/base_1")
    // b.orc is written first; a.orc sorts first
    eventFile(s"$dir/t/delta_2", "b.orc",
      Seq(event(upd, 1, 1L, 2L, 22.0), event(upd, 2, 2L, 2L, 20.0)))
    eventFile(s"$dir/t/delta_2", "a.orc",
      Seq(event(upd, 1, 1L, 2L, 11.0), event(upd, 3, 3L, 2L, 30.0)))
    def read() = pairs(Acid.readTable(spark, s"$dir/t").collect().toSeq
      .sortBy(_.getLong(0)))
    val want = Seq(1L -> 22.0, 2L -> 20.0, 3L -> 30.0, 4L -> 4.0)
    assert(read() == want)
    var merged = ""
    assert(jobsIn("minor-tie") {
      merged = Acid.minorCompact(spark, s"$dir/t")
    } == 0)
    assert(merged.endsWith("/delta_2_2"), merged)
    assert(read() == want)
  }

  test("a delta file whose event schema differs from the first file's " +
      "fails readTable and minorCompact on the driver") {
    val dir = graft.sources.OrcIo.scratchDir("acid_schema_mismatch")
    (1L to 4L).map(i => (i, i * 1.0)).toDF("id", "v")
      .write.orc(s"$dir/t/base_1")
    eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0)))
      .write.orc(s"$dir/t/delta_2")
    // the payload's `v` is a string here
    eventsDf(Seq(event(Acid.OpUpdate, 2, 2L, 3L, 0.0)))
      .withColumn("row", struct(col("rowId").as("id"), lit("x").as("v")))
      .write.orc(s"$dir/t/delta_3")
    Seq[() => Any](() => Acid.readTable(spark, s"$dir/t"),
        () => Acid.minorCompact(spark, s"$dir/t")).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("differs from the first file's"),
        e.getMessage)
    }
    assert(dirsOf(s"$dir/t") == Set("base_1", "delta_2", "delta_3"))
  }

  test("commits write their data and sidecar through the session's " +
      "Hadoop configuration") {
    val dir = graft.sources.OrcIo.scratchDir("acid_session_fs")
    val events = eventsDf(Seq(event(Acid.OpUpdate, 1, 1L, 2L, 11.0),
      event(Acid.OpDelete, 2, 2L, 2L, 0.0)))
    OrcFixtures.withSessionScheme(spark) {
      Acid.writeDelta(events, s"graftfs://$dir/driver")
      windowPath(Acid.writeDelta(events, s"graftfs://$dir/window"))
      Seq("driver", "window").foreach { d =>
        assert(namesIn(s"$dir/$d").exists(_.endsWith(".orc")), d)
        assert(Acid.readAcidStats(spark, s"graftfs://$dir/$d")
          .contains(Acid.AcidStats(0, 1, 1)), d)
      }
    }
  }

  test("a table on a session-only scheme reads, counts, diffs and " +
      "compacts on both paths") {
    val dir = graft.sources.OrcIo.scratchDir("acid_session_read")
    val (ins, upd, del) = (Acid.OpInsert, Acid.OpUpdate, Acid.OpDelete)
    OrcFixtures.withSessionScheme(spark) {
      def build(t: String): Unit = {
        (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v")
          .write.orc(s"$t/base_1")
        Acid.writeDelta(eventsDf(Seq(event(upd, 1, 1L, 2L, -1.0),
          event(ins, 1, 21L, 2L, 21.0))), s"$t/delta_2")
        Acid.writeDelta(eventsDf(Seq(event(del, 2, 2L, 3L, 0.0))),
          s"$t/delta_3")
        Acid.writeDelta(eventsDf(Seq(event(upd, 3, 3L, 4L, -3.0))),
          s"$t/delta_4")
      }
      val (d, w) = (s"graftfs://$dir/driver", s"graftfs://$dir/window")
      build(d); windowPath(build(w))
      def rows(t: String) = Acid.readTable(spark, t).collect()
        .map(canon).sorted.toSeq
      val want = rows(d)
      assert(want.size == 20 && windowPath(rows(d)) == want)
      assert(Acid.fastCount(spark, d).collect().map(canon).toSeq ==
        Acid.fastCount(spark, w).collect().map(canon).toSeq)
      assert(Acid.changesBetween(spark, d, 1L, 4L).collect().length == 4)
      Acid.minorCompact(spark, d, Some(Seq("delta_3", "delta_4")))
      windowPath(Acid.minorCompact(spark, w, Some(Seq("delta_3", "delta_4"))))
      assert(rows(d) == want && rows(w) == want)
      Acid.majorCompact(spark, d)
      assert(namesIn(s"$dir/driver")
        .filter(n => n.startsWith("base_") || n.startsWith("delta_")) ==
        Set("base_4"))
      assert(rows(d) == want)
    }
  }
}
