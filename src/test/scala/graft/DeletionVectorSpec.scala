package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.{DeletionVectors, SnapshotTable}

/** Merge-on-read deletion vectors: a row-level DELETE on a straddling
  * file commits `#dv=` position lines + a `#cdc=` change sidecar
  * instead of rewriting the file — O(deleted rows) commit bytes. Reads
  * (Scala API and SQL), time travel, CDC, DML-over-DV, compaction
  * materialization, vacuum retention and the append-diff refusal are
  * all pinned here. */
class DeletionVectorSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(): (SnapshotTable, String) = {
    val dir = Files.createTempDirectory("graft_dv").toString
    (SnapshotTable(dir), dir)
  }

  private def kv(ids: Range) =
    spark.createDataset(ids.map(i => (i.toLong, s"r$i")))(
      org.apache.spark.sql.Encoders.product[(Long, String)]).toDF("id", "s")

  private def manifestLines(dir: String, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(dir, "_manifests", f"v$v%09d.json"))
      .asScala.toSeq

  private def dataFilesOf(lines: Seq[String]): Seq[String] =
    lines.filter(l => l.nonEmpty && !l.startsWith("#"))

  // the RECONSTRUCTED listing — delta manifests carry only #add/#rm,
  // the carried-by-reference property lives in the folded state
  private def listingOf(dir: String, v: Long): Seq[String] =
    SnapshotTable(dir).listingOf(v)

  test("varint codec: positions round-trip, merge unions, malformed refuses") {
    val ps = Array(0L, 1L, 7L, 8L, 127L, 128L, 129L, 1L << 40, (1L << 40) + 1)
    val line = DeletionVectors.encodeLine("data/b1/f.parquet", ps.reverse)
    val Some((rel, dv)) = DeletionVectors.decodeLine(line)
    assert(rel === "data/b1/f.parquet")
    assert(dv.count === ps.length.toLong && !dv.isSidecar)
    assert(dv.positions("/nonexistent").toSeq === ps.toSeq) // sorted on encode
    assert(DeletionVectors.merge(Array(3L, 5L), Array(5L, 1L)).toSeq
      === Seq(1L, 3L, 5L))
    assert(DeletionVectors.decodeLine("#dv=bad").isEmpty)
    // a sidecar pointer decodes to a descriptor without touching disk
    val sline = DeletionVectors.lineOf("data/b1/f.parquet",
      DeletionVectors.Dv(3L, "@" +
        java.net.URLEncoder.encode("data/dv1/ab.dvb", "UTF-8")))
    val Some((_, sdv)) = DeletionVectors.decodeLine(sline)
    assert(sdv.isSidecar && sdv.sidecarRel === Some("data/dv1/ab.dvb")
      && sdv.count === 3L)
  }

  test("single-row DELETE commits O(delta): no data file rewritten, vector + sidecar recorded, reads exact") {
    val (t, dir) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    t.commit(kv(100 until 200).repartition(1))
    val v = t.currentVersion()
    val filesBefore = listingOf(dir, v)

    val r = t.deleteWhere(spark, col("id") === 42L, dvMaxRowsPerFile = 1000)
    assert(r.version === v + 1)
    assert(r.filesRewritten === 0, "a one-row delete must not rewrite a file")
    assert(r.filesDropped === 0 && r.filesAdded === 0)
    assert(r.filesDvUpdated === 1 && r.dvRowsAdded === 1L)

    val after = manifestLines(dir, r.version)
    assert(listingOf(dir, r.version).toSet === filesBefore.toSet,
      "the data-file listing must carry forward byte-identical")
    assert(after.count(_.startsWith("#dv=")) === 1)
    assert(after.count(_.startsWith("#cdc=")) === 1)
    assert(!after.exists(l => l.startsWith("#rm=") || l.startsWith("#add=")),
      "a pure-vector delete's delta manifest touches no file set at all")

    // reads: deleted row gone, everything else intact; time travel sees it
    assert(t.read(spark).count() === 199)
    assert(t.read(spark).filter(col("id") === 42L).count() === 0)
    assert(t.read(spark).agg(sum("id")).as[Long].head
      === (0L until 200L).sum - 42L)
    assert(t.readAt(spark, v).count() === 200)
    assert(t.tableStats().rows === Some(199L))
  }

  test("second delete on the same file merges vectors; sum stays exact") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    t.deleteWhere(spark, col("id") === 10L, dvMaxRowsPerFile = 1000)
    val r2 = t.deleteWhere(spark, col("id").isin(11L, 12L), dvMaxRowsPerFile = 1000)
    assert(r2.filesDvUpdated === 1 && r2.dvRowsAdded === 2L)
    assert(t.read(spark).count() === 97)
    assert(t.read(spark).agg(sum("id")).as[Long].head
      === (0L until 100L).sum - 10L - 11L - 12L)
    // an already-deleted row never re-matches (no duplicate positions)
    val r3 = t.deleteWhere(spark, col("id") === 10L, dvMaxRowsPerFile = 1000)
    assert(r3.dvRowsAdded === 0L && r3.version === r2.version,
      "a delete matching only already-deleted rows is a no-op commit")
  }

  test("batch change feed replays a DV delete as exactly the deleted rows") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    val v0 = t.currentVersion()
    val r = t.deleteWhere(spark, col("id") >= 95L, dvMaxRowsPerFile = 1000)
    val cdc = t.readChangesCdc(spark, v0, r.version)
    val rows = cdc.select("_change_type", "id", "_commit_version")
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(rows.length === 5)
    assert(rows.forall { case (ct, id, cv) =>
      ct == "delete" && id >= 95L && cv == r.version })
  }

  test("merge and update over a DV'd file neither resurrect nor double-delete") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    t.deleteWhere(spark, col("id") === 50L, dvMaxRowsPerFile = 1000)

    // update a surviving row: the rewrite must materialize the vector
    t.updateWhere(spark, col("id") === 60L, Map("s" -> lit("upd")))
    assert(t.read(spark).count() === 99, "update must not resurrect id=50")
    assert(t.read(spark).filter(col("s") === "upd").count() === 1)
    assert(t.dvRelOf(t.currentVersion()).isEmpty,
      "rewritten file's vector must be materialized away")

    // again with merge: delete via DV, then merge an upsert for another key
    t.deleteWhere(spark, col("id") === 70L, dvMaxRowsPerFile = 1000)
    val delta = Seq((80L, "merged")).toDF("id", "s")
    t.merge(spark, delta, Seq("id"))
    assert(t.read(spark).count() === 98, "merge must not resurrect id=70")
    assert(t.read(spark).filter(col("id") === 70L).count() === 0)
    assert(t.read(spark).filter(col("s") === "merged").count() === 1)
  }

  test("readMatchable excludes DV-deleted rows (merge cardinality sees live rows only)") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    t.deleteWhere(spark, col("id") === 5L, dvMaxRowsPerFile = 1000)
    val m = t.readMatchable(spark, Seq((5L, "x")).toDF("id", "s"), "id",
      t.currentVersion())
    assert(m.filter(col("id") === 5L).count() === 0)
    // two delta rows for a DV-deleted key: NOT a cardinality violation
    // (they match no live target row — both insert)
    val dup = Seq((5L, "a"), (5L, "b")).toDF("id", "s")
    t.merge(spark, dup, Seq("id"))
    assert(t.read(spark).filter(col("id") === 5L).count() === 2)
  }

  test("compaction materializes vectors: rows physically absent, lines cleared, fast path restored") {
    val (t, dir) = freshTable()
    t.commit(kv(0 until 100).repartition(2))
    t.deleteWhere(spark, col("id").isin(3L, 33L, 73L), dvMaxRowsPerFile = 1000)
    assert(t.dvRelOf(t.currentVersion()).nonEmpty)
    val v = t.compact(spark, files = 1)
    assert(manifestLines(dir, v).count(_.startsWith("#dv=")) === 0)
    assert(t.read(spark).count() === 97)
    // physically absent: a bare parquet read of the listed files
    val raw = spark.read.parquet(
      dataFilesOf(manifestLines(dir, v)).map(rel => s"$dir/$rel"): _*)
    assert(raw.count() === 97)
    assert(t.tableStats().rows === Some(97L))
  }

  test("cap fallback: more matches than dvMaxRowsPerFile rewrites copy-on-write") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    val r = t.deleteWhere(spark, col("id") < 50L, dvMaxRowsPerFile = 10)
    assert(r.filesDvUpdated === 0 && r.filesRewritten === 1)
    assert(t.read(spark).count() === 50)
    assert(t.dvRelOf(r.version).isEmpty)
  }

  test("append-only diff refuses across a DV commit; appends after it carry the vector forward") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    val v0 = t.currentVersion()
    val rd = t.deleteWhere(spark, col("id") === 1L, dvMaxRowsPerFile = 1000)
    val ex = intercept[IllegalArgumentException] {
      t.readChanges(spark, v0, rd.version).count()
    }
    assert(ex.getMessage.contains("deletion-vector"))
    // append on top: DV still applies, new rows visible
    t.commit(kv(200 until 210))
    assert(t.read(spark).count() === 109)
    // and the post-delete append range is a clean diff again
    assert(t.readChanges(spark, rd.version, t.currentVersion()).count() === 10)
  }

  test("SQL surface: DELETE creates a vector, SELECT respects it, time travel and t$files see it") {
    val wh = Files.createTempDirectory("graft_dv_sql").toString
    spark.conf.set("spark.sql.catalog.dvcat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dvcat.warehouse", wh)
    spark.sql("CREATE TABLE dvcat.db.t (id BIGINT, s STRING) USING `graft-snapshot`")
    spark.sql("INSERT INTO dvcat.db.t SELECT id, concat('r', id) FROM range(100)")
    SnapshotTable(s"$wh/db/t").compact(spark, files = 1)
    val preHead = spark.sql("SELECT max(version) FROM dvcat.db.`t$history`")
      .head().getLong(0)

    spark.sql("DELETE FROM dvcat.db.t WHERE id = 7")
    assert(spark.sql("SELECT count(*) FROM dvcat.db.t").head().getLong(0) === 99L)
    assert(spark.sql("SELECT count(*) FROM dvcat.db.t WHERE id = 7")
      .head().getLong(0) === 0L)
    assert(spark.sql("SELECT sum(id) FROM dvcat.db.t").head().getLong(0)
      === (0L until 100L).sum - 7L)
    // no rewrite happened: same files before and after
    val dvRows = spark.sql("SELECT sum(dv_rows) FROM dvcat.db.`t$files`")
      .head().getLong(0)
    assert(dvRows === 1L)
    // time travel through SQL sees the pre-delete state
    assert(spark.sql(s"SELECT count(*) FROM dvcat.db.t VERSION AS OF $preHead")
      .head().getLong(0) === 100L)
    // OPTIMIZE materializes and reports the reclaimed positions
    val opt = spark.sql("OPTIMIZE dvcat.db.t INTO 1 FILES")
      .select("dv_rows_reclaimed").head().getLong(0)
    assert(opt === 1L)
    assert(spark.sql("SELECT sum(dv_rows) FROM dvcat.db.`t$files`")
      .head().getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM dvcat.db.t").head().getLong(0) === 99L)
    spark.sql("DROP TABLE dvcat.db.t")
  }

  test("change feed never double-deletes: a rewrite of a vectored file subtracts the vector") {
    val (t, dir) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    val v0 = t.currentVersion()
    // v1: DV delete of id=42 (sidecar replays delete(42) exactly once)
    t.deleteWhere(spark, col("id") === 42L, dvMaxRowsPerFile = 1000)
    // v2: an update rewrites the vectored file copy-on-write
    t.updateWhere(spark, col("id") === 60L, Map("s" -> lit("u")))
    val v2 = t.currentVersion()
    val cdc = t.readChangesCdc(spark, v0, v2)
      .select("_change_type", "id", "_commit_version")
      .as[(String, Long, Long)].collect()
    // exactly ONE delete of 42 (the sidecar's), none from the rewrite
    assert(cdc.count(r => r._1 == "delete" && r._2 == 42L) === 1,
      s"id=42 deletes: ${cdc.filter(_._2 == 42L).toSeq}")
    assert(!cdc.exists(r => r._2 == 42L && r._3 == v2),
      "the rewrite must not replay the already-deleted row at all")
    // state reconstruction stays exact including counts: applying the
    // feed to the v0 snapshot yields the v2 snapshot row-for-row
    val deletes = cdc.filter(_._1 == "delete").map(_._2).groupBy(identity)
      .view.mapValues(_.length).toMap
    val inserts = cdc.filter(_._1 == "insert").map(_._2).groupBy(identity)
      .view.mapValues(_.length).toMap
    val base = t.readAt(spark, v0).select("id").as[Long].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val reconstructed = (base.keySet ++ inserts.keySet).flatMap { id =>
      val n = base.getOrElse(id, 0) - deletes.getOrElse(id, 0) +
        inserts.getOrElse(id, 0)
      Seq.fill(n)(id)
    }.toSeq.sorted
    val actual = t.read(spark).select("id").as[Long].collect().toSeq.sorted
    assert(reconstructed === actual,
      "feed-applied v0 must equal v2 with exact multiplicities")

    // the STREAMING feed replays the vectored-rewrite range EXACTLY
    // like the batch feed (whole-file partitions + row-order vector
    // subtraction), instead of refusing or double-deleting
    val ck = Files.createTempDirectory("graft_dv_cdc_ck").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = spark.readStream.format("graft-snapshot")
      .option("readChangeFeed", "true")
      .option("startingVersion", v0 + 1).load(dir)
      .writeStream
      .foreachBatch { (bdf: org.apache.spark.sql.DataFrame, _: Long) =>
        bdf.select("_change_type", "id", "_commit_version")
          .as[(String, Long, Long)].collect().foreach(got.add); ()
      }
      .option("checkpointLocation", ck).start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted === cdc.toSeq.sorted,
      "the stream must equal readChangesCdc across the vectored rewrite")
  }

  test("streaming feed replays a RESTORE of a vectored file equal to the batch feed") {
    val (t, dir) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    t.deleteWhere(spark, col("id").isin(7L, 70L), dvMaxRowsPerFile = 1000)
    val vDv = t.currentVersion()
    t.compact(spark, files = 1)
    val vRestored = t.restore(vDv) // re-adds the vectored file
    val batch = t.readChangesCdc(spark, vRestored - 1, vRestored)
      .select("_change_type", "id", "_commit_version")
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(batch.count(_._1 == "insert") === 98,
      "the restore's insert replay subtracts the re-added vector")
    val ck = Files.createTempDirectory("graft_dv_rst_ck").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = spark.readStream.format("graft-snapshot")
      .option("readChangeFeed", "true")
      .option("startingVersion", vRestored)
      .option("endingVersion", vRestored).load(dir)
      .writeStream
      .foreachBatch { (bdf: org.apache.spark.sql.DataFrame, _: Long) =>
        bdf.select("_change_type", "id", "_commit_version")
          .as[(String, Long, Long)].collect().foreach(got.add); ()
      }
      .option("checkpointLocation", ck).start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted === batch,
      "stream over a restore of a vectored file must equal readChangesCdc")
  }

  test("restore re-adding a vectored file does not resurrect its deleted positions in the feed") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    t.deleteWhere(spark, col("id") === 7L, dvMaxRowsPerFile = 1000)
    val vDv = t.currentVersion()
    // rewrite the file away entirely (compact), then restore to the
    // DV'd version: its file RE-ENTERS the listing carrying its vector
    t.compact(spark, files = 1)
    val vRestored = t.restore(vDv)
    assert(t.read(spark).count() === 99)
    val cdc = t.readChangesCdc(spark, vRestored - 1, vRestored)
      .select("_change_type", "id").as[(String, Long)].collect()
    assert(!cdc.exists(r => r._1 == "insert" && r._2 == 7L),
      "the restore's insert replay must subtract the re-added vector")
    assert(cdc.count(_._1 == "insert") === 99)
  }

  test("merge-on-read UPDATE: one-row update commits O(delta) — vector + sidecar + appended new version") {
    val (t, dir) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    val v0 = t.currentVersion()
    val filesBefore = dataFilesOf(manifestLines(dir, v0))
    val r = t.updateWhere(spark, col("id") === 42L, Map("s" -> lit("upd")),
      dvMaxRowsPerFile = 1000)
    assert(r.filesRewritten === 0, "a one-row update must not rewrite a file")
    assert(r.filesDvUpdated === 1 && r.dvRowsAdded === 1L)
    assert(r.filesAdded === 1, "the new row version lands as an appended batch")
    assert(filesBefore.toSet.subsetOf(listingOf(dir, r.version).toSet),
      "original files carry forward by reference")
    // read: updated value present exactly once, old version gone
    assert(t.read(spark).count() === 100)
    assert(t.read(spark).filter(col("id") === 42L).select("s")
      .as[String].collect().toSeq === Seq("upd"))
    // the original file still PHYSICALLY holds the old row (vectored)
    val raw = spark.read.parquet(filesBefore.map(rel => s"$dir/$rel"): _*)
    assert(raw.filter(col("id") === 42L && col("s") === "r42").count() === 1)
    // change feed: delete(old version) + insert(new version), exact
    val cdc = t.readChangesCdc(spark, v0, r.version)
      .select("_change_type", "id", "s").as[(String, Long, String)]
      .collect().toSet
    assert(cdc === Set(("delete", 42L, "r42"), ("insert", 42L, "upd")))
    // time travel unaffected
    assert(t.readAt(spark, v0).filter(col("id") === 42L).select("s")
      .as[String].head() === "r42")
  }

  test("merge-on-read MERGE: matched keys vector out, carried rows stay in place, upserts append") {
    val (t, dir) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    val v0 = t.currentVersion()
    val filesBefore = dataFilesOf(manifestLines(dir, v0))
    val delta = Seq((10L, "m10", false), (11L, "m11", false),
      (200L, "m200", false), (12L, "x", true)).toDF("id", "s", "_del")
    val r = t.merge(spark, delta, Seq("id"), deleteCol = Some("_del"),
      dvMaxRowsPerFile = 1000)
    assert(r.filesRewritten === 0, "matched keys must vector out, not rewrite")
    assert(r.filesDvUpdated === 1 && r.dvRowsAdded === 3L,
      "three matched target rows (10, 11, 12) leave by vector")
    assert(filesBefore.toSet.subsetOf(listingOf(dir, r.version).toSet),
      "carried-along rows stay physically in place")
    // state: upserts in, delete arm out, carried rows intact
    val rows = t.read(spark).as[(Long, String)].collect().toMap
    assert(rows.size === 100) // 100 - 3 matched + 2 upserts re-entering + 1 insert
    assert(rows(10L) === "m10" && rows(11L) === "m11" && rows(200L) === "m200")
    assert(!rows.contains(12L), "the delete arm removes its key")
    assert(rows(13L) === "r13", "carried rows unchanged")
    // change feed: exactly the matched old versions as deletes, the
    // upserts as inserts — NO carried-along noise pairs
    val cdc = t.readChangesCdc(spark, v0, r.version)
      .select("_change_type", "id", "s").as[(String, Long, String)]
      .collect().toSet
    assert(cdc === Set(
      ("delete", 10L, "r10"), ("delete", 11L, "r11"), ("delete", 12L, "r12"),
      ("insert", 10L, "m10"), ("insert", 11L, "m11"), ("insert", 200L, "m200")))
    // cardinality enforcement still sees live rows: a duplicate key
    // matching a LIVE row refuses
    val dup = Seq((13L, "a", false), (13L, "b", false)).toDF("id", "s", "_del")
    val ex = intercept[IllegalStateException] {
      t.merge(spark, dup, Seq("id"), deleteCol = Some("_del"),
        dvMaxRowsPerFile = 1000)
    }
    assert(ex.getMessage.contains("multiple delta rows"))
  }

  test("merge-on-read MERGE over an already-vectored file merges positions; compaction clears all") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    t.deleteWhere(spark, col("id") === 5L, dvMaxRowsPerFile = 1000)
    val r = t.merge(spark, Seq((6L, "m6")).toDF("id", "s"), Seq("id"),
      dvMaxRowsPerFile = 1000)
    assert(r.filesDvUpdated === 1 && r.dvRowsAdded === 1L)
    assert(t.dvRelOf(r.version).values.map(_.count).sum === 2,
      "positions union across the delete and the merge")
    assert(t.read(spark).count() === 99)
    assert(t.read(spark).filter(col("id") === 6L).select("s")
      .as[String].head() === "m6")
    val v = t.compact(spark, files = 1)
    assert(t.dvRelOf(v).isEmpty && t.read(spark).count() === 99)
  }

  test("merge-on-read DML releases its checkpoints") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // Spark tracks persistent RDDs weakly, so an unreleased checkpoint
    // would vanish from the ids at the next GC. Holding every executed
    // plan keeps such a checkpoint reachable, and counted.
    val held = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val holder = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = held.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = held.add(qe)
    }
    spark.listenerManager.register(holder)
    try {
      val (t, _) = freshTable()
      t.commit(kv(0 until 100).repartition(1))
      def ids = spark.sparkContext.getPersistentRDDs.keySet.toSet
      def leaves(verb: String)(dml: => Long): Unit = {
        val before = ids
        assert(dml > 0, s"$verb must vector out a row")
        assert(ids -- before === Set.empty[Int], s"$verb left checkpoints behind")
      }
      leaves("updateWhere")(t.updateWhere(spark, col("id") === 3L,
        Map("s" -> lit("u")), dvMaxRowsPerFile = 1000).dvRowsAdded)
      leaves("deleteWhere")(t.deleteWhere(spark, col("id") === 4L,
        dvMaxRowsPerFile = 1000).dvRowsAdded)
      leaves("merge")(t.merge(spark, Seq((6L, "m6")).toDF("id", "s"), Seq("id"),
        dvMaxRowsPerFile = 1000).dvRowsAdded)
      assert(held.size > 0)
    } finally spark.listenerManager.unregister(holder)
  }

  test("the DML catalog entries run a pinned number of Spark jobs, cold at sf0.01") {
    // Cold at sf0.01 the three entries run 12, 32 and 47 jobs, the same
    // before and after merge, deleteWhere and updateWhere came to share
    // one mutation core. A change to that core that adds a job fails
    // here; one that removes jobs lowers the pin.
    val sf = s"${sys.props("user.home")}/testdata/sf0.01"
    val jobs = Seq("q_snapshot_update", "q_snapshot_dv", "q_snapshot_mor").map { q =>
      Blocks.reset(spark)
      q -> jobsOf(graft.analytics.RefQueries.queries(q)(spark, sf)
        .write.format("noop").mode("overwrite").save())
    }.toMap
    assert(jobs === Map("q_snapshot_update" -> 12, "q_snapshot_dv" -> 32,
      "q_snapshot_mor" -> 47))
  }

  test("a delete across many files collects only O(files) descriptors to the driver") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 40000).repartition(8))
    val r = t.deleteWhere(spark, pmod(col("id"), lit(5L)) === 0L,
      dvMaxRowsPerFile = 100000)
    assert(r.filesDvUpdated === 8 && r.filesRewritten === 0)
    assert(r.dvRowsAdded === 8000L)
    assert(t.lastDvDriverRowsCollected === 8,
      "dvMaterialize must collect one fixed-size descriptor per DV'd " +
        "file — positions encode on the executors and never hit the driver")
    assert(t.read(spark).count() === 32000L)
    assert(t.read(spark).filter(pmod(col("id"), lit(5L)) === 0L).count() === 0)
  }

  test("big vectors move to per-file sidecar FILES written from executors; reads, vacuum, restore, compaction honor them") {
    val (t, dir) = freshTable()
    // one file, 60k rows: deleting every 17th row yields ~3.5k
    // positions ≈ 3.5 KB encoded — past the inline budget, so the
    // vector lands as a binary sidecar and the manifest carries only
    // the pointer line
    t.commit(kv(0 until 60000).repartition(1))
    val r = t.deleteWhere(spark, pmod(col("id"), lit(17L)) === 0L,
      dvMaxRowsPerFile = 10000)
    val expectedDeleted = (0L until 60000L).count(_ % 17 == 0).toLong
    assert(r.filesRewritten === 0 && r.filesDvUpdated === 1)
    assert(r.dvRowsAdded === expectedDeleted)
    val dv1 = t.dvRelOf(r.version).values.head
    assert(dv1.isSidecar,
      s"a $expectedDeleted-position vector must go to a sidecar file")
    val sidecar1 = Paths.get(dir).resolve(dv1.sidecarRel.get)
    assert(Files.exists(sidecar1))
    assert(Files.size(sidecar1) <= expectedDeleted + 64,
      "delta-varint: ~1 byte per dense position")
    val line = manifestLines(dir, r.version).find(_.startsWith("#dv=")).get
    assert(line.length < 250, "the manifest line is descriptor-sized")
    assert(t.read(spark).count() === 60000L - expectedDeleted)
    assert(t.read(spark).filter(pmod(col("id"), lit(17L)) === 0L).count() === 0)
    // a second small delete UNIONS into the sidecar-backed vector
    // (prior payload decoded on the executor)
    val r2 = t.deleteWhere(spark, col("id") === 1L, dvMaxRowsPerFile = 10000)
    val dv2 = t.dvRelOf(r2.version).values.head
    assert(dv2.count === expectedDeleted + 1L)
    assert(t.read(spark).count() === 60000L - expectedDeleted - 1L)
    // vacuum keeps sidecars of retained manifests
    t.vacuum(keepVersions = 10)
    assert(Files.exists(sidecar1) &&
      Files.exists(Paths.get(dir).resolve(dv2.sidecarRel.get)))
    // compaction materializes the vector away; restore brings the
    // pointer line (and its sidecar) back
    t.compact(spark, files = 1)
    assert(t.dvRelOf(t.currentVersion()).isEmpty)
    val vRest = t.restore(r2.version)
    assert(t.dvRelOf(vRest).values.head.isSidecar)
    assert(t.read(spark).count() === 60000L - expectedDeleted - 1L)
    t.compact(spark, files = 1)
    // restore REFUSES when the target's DV sidecar has been lost
    val sidecar2 = Paths.get(dir).resolve(dv2.sidecarRel.get)
    Files.delete(sidecar2)
    val ex = intercept[IllegalArgumentException] { t.restore(r2.version) }
    assert(ex.getMessage.contains("vacuumed"))
    // expiry reaps the now-unreferenced sidecar files
    t.vacuum(keepVersions = 1)
    assert(!Files.exists(sidecar1), "unreferenced DV sidecar must be reaped")
  }

  test("stats honesty under vectors: rows net out, per-column stats withdraw until compaction") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 100).repartition(2))
    val before = t.tableStats()
    assert(before.rows === Some(100L) && before.cols.contains("id"))
    assert(before.cols("id").min.toLong === 0L
      && before.cols("id").max.toLong === 99L)
    // delete the max row BY VECTOR: its file's recorded max now
    // describes a deleted row — an honest surface must not report it
    val r = t.deleteWhere(spark, col("id") === 99L, dvMaxRowsPerFile = 1000)
    val st = t.tableStats(r.version)
    assert(st.rows === Some(99L), "rows keep netting the vector")
    assert(st.cols.isEmpty,
      "per-column stats must withdraw while any file carries a vector " +
        "(the recorded max 99 is a deleted row)")
    // compaction materializes the vectors and stats come back true
    val vC = t.compact(spark, files = 1)
    val after = t.tableStats(vC)
    assert(after.rows === Some(99L))
    assert(after.cols("id").max.toLong === 98L)
  }

  test("zone-map file skipping survives on the DV'd read subset") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 300).repartition(1))
    t.compact(spark, files = 3, sortKey = Some(col("id")))
    // vector one row out of EVERY clustered file: the whole read now
    // takes the v1 metadata-column path, where a selective predicate
    // must still skip files from the manifest stats
    val r = t.deleteWhere(spark, col("id").isin(0L, 150L, 299L),
      dvMaxRowsPerFile = 1000)
    assert(r.filesDvUpdated === 3 && r.filesRewritten === 0)
    val q = t.read(spark).filter(col("id") >= 250L)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq
      === (250L until 300L).filterNot(_ == 299L))
    val (selected, total) = graft.sources.ZoneMapFileIndex.lastFilteredSelection
    assert(total === 3 && selected === 1,
      s"the DV'd subset must prune to the covering file, got $selected/$total")
  }

  test("bloom file skipping survives on the DV'd read subset (round 14)") {
    val (t, _) = freshTable()
    // hash-scattered keys: every file's [min, max] spans the domain, so
    // only the blooms can prune an equality probe
    t.commitWithBlooms(kv(0 until 400).toDF("id", "val")
      .repartition(4, col("id")), Seq("id"), expectedItemsPerFile = 200)
    // vector one row out of every file: the whole read takes the v1
    // metadata-column path
    val r = t.deleteWhere(spark, col("id").isin(1L, 2L, 3L, 4L),
      dvMaxRowsPerFile = 1000)
    assert(r.filesDvUpdated >= 3 && r.filesRewritten === 0)
    // a point probe for an ABSENT key: blooms must skip (modulo fp)
    // files on the v1 half exactly like the DSv2 half — the v1 half is
    // exactly the DV'd files
    val qAbsent = t.read(spark).filter(col("id") === 999999999L)
    assert(qAbsent.count() === 0L)
    val (selAbsent, totAbsent) =
      graft.sources.ZoneMapFileIndex.lastFilteredSelection
    assert(totAbsent === r.filesDvUpdated && selAbsent <= 1,
      s"bloom skip on the DV'd subset regressed: $selAbsent/$totAbsent files")
    // a PRESENT key still resolves exactly (its file read wherever it
    // lives — DSv2 or v1 half — and blooms never skip it)
    assert(t.read(spark).filter(col("id") === 42L).count() === 1L)
    assert(t.read(spark).filter(col("id") === 1L).count() === 0L,
      "a DV-deleted probed key stays deleted through the bloom-pruned read")
  }

  test("a DV file key URI encoding would alter fails CLOSED instead of resurrecting rows") {
    val (t, dir) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    val r = t.deleteWhere(spark, col("id") === 3L, dvMaxRowsPerFile = 1000)
    val dataRel = dataFilesOf(manifestLines(dir, 0L)).head
    // physically relocate the batch dir to a name with a space — the
    // raw rel and its URI segment now diverge, so the anti-join key
    // CANNOT be matched safely; the read must refuse, never silently
    // skip the subtraction (which would resurrect id=3). The listing
    // line lives in the base (full) manifest, the vector line in the
    // delete's delta — rewrite both.
    val oldBatch = dataRel.split('/')(1)
    Files.move(Paths.get(dir, "data", oldBatch),
      Paths.get(dir, "data", "b bad"))
    val newRel = dataRel.replace(oldBatch, "b bad")
    val m0 = Paths.get(dir, "_manifests", "v000000000.json")
    Files.write(m0, manifestLines(dir, 0L)
      .map(l => if (l == dataRel) newRel else l)
      .mkString("\n").getBytes("UTF-8"))
    val mPath = Paths.get(dir, "_manifests", f"v${r.version}%09d.json")
    val lines = manifestLines(dir, r.version)
    val Some((_, dvDesc)) =
      DeletionVectors.decodeLine(lines.find(_.startsWith("#dv=")).get)
    val rewritten = lines.map { l =>
      if (l.startsWith("#dv=")) DeletionVectors.lineOf(newRel, dvDesc)
      else l
    }
    Files.write(mPath, rewritten.mkString("\n").getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable(dir).read(spark).count()
    }
    assert(ex.getMessage.contains("URI"),
      s"expected the fail-closed key guard, got: ${ex.getMessage}")
  }

  test("change feed refuses a sidecar that does not cover the commit's vector delta") {
    val (t, dir) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    val v0 = t.currentVersion()
    val r = t.deleteWhere(spark, col("id").isin(5L, 6L, 7L),
      dvMaxRowsPerFile = 1000)
    // healthy range replays exactly the three deletes
    assert(t.readChangesCdc(spark, v0, r.version)
      .filter(col("_change_type") === "delete").count() === 3)
    // tamper: point the `#cdc=` line at the 100-row DATA file — a
    // sidecar whose row count does not match the vector delta (a
    // foreign or corrupt writer) must refuse, not under- or over-replay
    val mPath = Paths.get(dir, "_manifests", f"v${r.version}%09d.json")
    val lines = manifestLines(dir, r.version)
    val dataRel = dataFilesOf(manifestLines(dir, 0L)).head
    val rewritten = lines.map { l =>
      if (l.startsWith("#cdc="))
        "#cdc=" + java.net.URLEncoder.encode(dataRel, "UTF-8") + ":delete"
      else l
    }
    Files.write(mPath, rewritten.mkString("\n").getBytes("UTF-8"))
    val ex = intercept[IllegalStateException] {
      SnapshotTable(dir).readChangesCdc(spark, v0, r.version).count()
    }
    assert(ex.getMessage.contains("does not cover"))

    // the converse phantom: a sidecar on a commit whose vectors did
    // NOT change (an append) replays deletes nothing backs — refuse
    val (t2, dir2) = freshTable()
    t2.commit(kv(0 until 10).repartition(1))
    val rel0 = dataFilesOf(manifestLines(dir2, 0L)).head
    val v1 = t2.commit(kv(10 until 20).repartition(1))
    val m1 = Paths.get(dir2, "_manifests", f"v$v1%09d.json")
    val withPhantom = manifestLines(dir2, v1) :+
      ("#cdc=" + java.net.URLEncoder.encode(rel0, "UTF-8") + ":delete")
    Files.write(m1, withPhantom.mkString("\n").getBytes("UTF-8"))
    val ex2 = intercept[IllegalStateException] {
      SnapshotTable(dir2).readChangesCdc(spark, 0L, v1).count()
    }
    assert(ex2.getMessage.contains("does not cover"))
  }

  test("vacuum retains the change sidecar with its manifest; expiry reaps it") {
    val (t, dir) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    val r = t.deleteWhere(spark, col("id") === 9L, dvMaxRowsPerFile = 1000)
    val sidecarRel = t.metaOf(r.version).cdc.map(_._1)
    assert(sidecarRel.size === 1)
    def sidecarExists = Files.exists(Paths.get(dir).resolve(sidecarRel.head))
    assert(sidecarExists)
    t.vacuum(keepVersions = 10) // manifest retained -> sidecar retained
    assert(sidecarExists, "retained manifest must keep its change sidecar")
    // bury the DV version beyond retention, then vacuum(1)
    t.commit(kv(200 until 201)); t.commit(kv(201 until 202))
    t.vacuum(keepVersions = 1)
    assert(!sidecarExists, "expired manifest's sidecar must be reaped")
    // the vector itself still applies (it rides the retained manifest)
    assert(t.read(spark).count() === 101)
  }

  test("restore across a vector: content returns, change feed refuses the dv-diverging range") {
    val (t, _) = freshTable()
    t.commit(kv(0 until 100).repartition(1))
    val v0 = t.currentVersion()
    val rd = t.deleteWhere(spark, col("id") === 4L, dvMaxRowsPerFile = 1000)
    val vRestored = t.restore(v0)
    assert(t.read(spark).count() === 100, "restore must undo the DV delete")
    assert(t.dvRelOf(vRestored).isEmpty)
    val ex = intercept[IllegalStateException] {
      t.readChangesCdc(spark, rd.version, vRestored).count()
    }
    assert(ex.getMessage.contains("deletion vectors"))
  }
}
