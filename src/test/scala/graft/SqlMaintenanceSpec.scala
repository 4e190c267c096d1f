package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** SQL maintenance verbs (VACUUM / OPTIMIZE [ZORDER BY] / RESTORE)
  * through the injected parser, plus the `t$files` metadata table —
  * the operational surface of the snapshot format driven exactly as a
  * SQL user would. */
class SqlMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  private def catalogTable(name: String): (SnapshotTable, String) = {
    val wh = Files.createTempDirectory(s"graft_maint_$name").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE TABLE $name.db.t (id BIGINT, v STRING) USING `graft-snapshot`")
    (SnapshotTable(s"$wh/db/t"), wh)
  }

  private def kv(ids: Range, tag: String = "a") =
    spark.createDataset(ids.map(i => (i.toLong, s"$tag$i")))(
      org.apache.spark.sql.Encoders.product[(Long, String)]).toDF("id", "v")

  test("the parser leaves every non-maintenance statement untouched") {
    assert(spark.sql("SELECT 1 AS one").as[Int].head() === 1)
    assert(spark.sql("SELECT 'VACUUM t' AS s").as[String].head() === "VACUUM t")
    // a statement STARTING with the keyword but not matching the shape
    // falls through to Spark's parser and raises its normal error
    intercept[Exception] { spark.sql("OPTIMIZE") }
  }

  test("SQL RESTORE: head moves forward to old content, history intact, CDC sees delete+insert") {
    val (t, _) = catalogTable("rstcat")
    val v0 = t.commit(kv(0 until 50))
    val v1 = t.commit(kv(50 until 70))
    val out = spark.sql(s"RESTORE TABLE rstcat.db.t TO VERSION AS OF $v0")
      .as[(Long, Long)].head()
    assert(out._1 === v1 + 1, "restore must land as a NEW version")
    assert(t.read(spark).count() === 50)
    assert(t.readAt(spark, v1).count() === 70, "history preserved")
    assert(t.metaOf(v1 + 1).op === Some("restore"))
    // change feed across the restore: v1's files deleted (their 20
    // rows), nothing inserted (v0's files never left)
    val cdc = t.readChangesCdc(spark, v1, v1 + 1)
    val byType = cdc.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType.getOrElse("delete", 0L) === 20L)
    assert(byType.getOrElse("insert", 0L) === 0L)
    // restoring the current head is a no-op
    assert(t.restore(v1 + 1) === v1 + 1)
    // the TO keyword is optional
    val again = spark.sql(s"RESTORE TABLE rstcat.db.t VERSION AS OF $v1")
      .as[(Long, Long)].head()
    assert(again._1 === v1 + 2 && t.read(spark).count() === 70)
  }

  test("SQL VACUUM: reaps unreferenced files, expires history, current reads untouched") {
    val (t, wh) = catalogTable("vaccat")
    val v0 = t.commit(kv(0 until 30))
    t.commit(kv(30 until 40))
    val head = t.commit(kv(100 until 120), replace = true) // earlier files orphaned
    val (deleted, expired) = spark.sql(
      "VACUUM vaccat.db.t RETAIN 1 VERSIONS").as[(Long, Long)].head()
    assert(deleted > 0, "replace-orphaned data files must be reaped")
    assert(expired === head, "every pre-head manifest expires")
    assert(t.read(spark).count() === 20)
    intercept[Exception] { t.readAt(spark, v0).collect() }
    // path-target form works too (quoted literal instead of a name)
    val t2dir = s"$wh/db/t"
    val (d2, e2) = spark.sql(s"VACUUM '$t2dir' RETAIN 1 VERSIONS")
      .as[(Long, Long)].head()
    assert(d2 === 0L && e2 === 0L, "second vacuum finds nothing left")
    // restore to a vacuumed version refuses all-or-nothing
    intercept[Exception] {
      spark.sql(s"RESTORE TABLE vaccat.db.t TO VERSION AS OF $v0") }
  }

  test("SQL OPTIMIZE: compacts small files, content identical, op recorded") {
    val (t, _) = catalogTable("optcat")
    (0 until 6).foreach(i => t.commit(kv(i * 10 until (i + 1) * 10)))
    val before = t.fileCount(t.currentVersion())
    assert(before >= 6)
    val (v, nf) = spark.sql("OPTIMIZE optcat.db.t INTO 2 FILES")
      .select("version", "n_files").as[(Long, Long)].head()
    assert(nf <= 2L && t.fileCount(v) <= 2)
    assert(t.metaOf(v).op === Some("compact"))
    assert(t.read(spark).orderBy("id").as[(Long, String)].collect().toSeq
      === (0 until 60).map(i => (i.toLong, s"a$i")))
  }

  test("SQL OPTIMIZE ZORDER BY: 2-D clustering tightens per-file ranges on BOTH keys") {
    val wh = Files.createTempDirectory("graft_maint_z").toString
    spark.conf.set("spark.sql.catalog.zcat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.zcat.warehouse", wh)
    spark.sql("CREATE TABLE zcat.db.g (a BIGINT, b BIGINT) USING `graft-snapshot`")
    val t = SnapshotTable(s"$wh/db/g")
    // a 64x64 grid committed in row-major order: files cluster on `a`
    // only, so every file spans the FULL b range
    val grid = spark.range(0, 4096).select(
      (col("id") / 64).cast("long").as("a"),
      (col("id") % 64).cast("long").as("b"))
    t.commit(grid.repartitionByRange(8, col("a")))
    val (v, nf) = spark.sql("OPTIMIZE zcat.db.g INTO 8 FILES ZORDER BY (a, b)")
      .select("version", "n_files").as[(Long, Long)].head()
    assert(nf === 8L && t.metaOf(v).op === Some("compact"))
    assert(t.read(spark).count() === 4096)
    // zone maps after z-order: files cover sub-ranges of BOTH columns
    // (row-major layout would give every file the full 0..63 b-range)
    val stats = t.fileStatsOf(v).values.toSeq
    val bSpans = stats.flatMap(_.cols.get("b")).map(s =>
      s.max.toString.toLong - s.min.toString.toLong)
    assert(bSpans.nonEmpty && bSpans.count(_ < 63) >= bSpans.size / 2,
      s"z-order must tighten b ranges, got spans $bSpans")
    // 3-column form plans and preserves content
    spark.sql("OPTIMIZE zcat.db.g INTO 4 FILES ZORDER BY (a, b, a)")
    assert(t.read(spark).count() === 4096)
    // >3 columns refused with the documented error
    val err = intercept[Exception] {
      spark.sql("OPTIMIZE zcat.db.g ZORDER BY (a, b, a, b)")
    }
    assert(err.getMessage.contains("at most 3"))
  }

  test("t$files metadata table: per-file inventory incl. buckets, zero distributed work") {
    val (t, _) = catalogTable("filcat")
    t.commit(kv(0 until 40))
    t.commit(kv(40 until 50))
    val files = spark.sql(
      "SELECT file, rows, size_bytes, bucket, n_blooms FROM filcat.db.`t$files`")
      .as[(String, Option[Long], Option[Long], Option[Int], Long)].collect()
    assert(files.length === t.fileCount(t.currentVersion()))
    assert(files.map(_._2.getOrElse(0L)).sum === 50L, "manifest row counts sum to count(*)")
    assert(files.forall(_._3.exists(_ > 0L)), "every live file has bytes on disk")
    assert(files.forall(_._4.isEmpty), "unbucketed layout reports null buckets")
    // bucketed table reports its bucket ids
    val wh2 = Files.createTempDirectory("graft_maint_fb").toString
    spark.conf.set("spark.sql.catalog.fbcat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.fbcat.warehouse", wh2)
    spark.sql("CREATE TABLE fbcat.db.b (id BIGINT, v STRING) USING `graft-snapshot`")
    val tb = SnapshotTable(s"$wh2/db/b")
    // the CREATE-TABLE schema commit is unbucketed: replace the lineage
    tb.commitBucketed(kv(0 until 64), "id", 4, replace = true)
    val buckets = spark.sql("SELECT bucket FROM fbcat.db.`b$files`")
      .as[Option[Int]].collect()
    assert(buckets.forall(_.isDefined) && buckets.flatten.toSet === Set(0, 1, 2, 3))
  }

  test("VACUUM DRY RUN reports what a real vacuum would reap, touching nothing") {
    val (t, _) = catalogTable("drycat")
    t.commit(kv(0 until 20))
    t.commit(kv(20 until 30))
    t.commit(kv(30 until 35, "b"), replace = true) // orphans the old lineage's files
    (0 until 3).foreach(i => t.commit(kv(100 + i * 5 until 105 + i * 5)))
    val manifestsBefore = t.currentVersion() + 1
    val (dDry, mDry) = spark.sql("VACUUM drycat.db.t RETAIN 2 VERSIONS DRY RUN")
      .as[(Long, Long)].head()
    assert(dDry > 0 && mDry > 0, s"dry run must report work: $dDry/$mDry")
    // nothing was touched: every manifest still present, reads exact
    assert((0L until manifestsBefore).forall(v =>
      t.readAt(spark, v).count() >= 0))
    val (dReal, mReal) = spark.sql("VACUUM drycat.db.t RETAIN 2 VERSIONS")
      .as[(Long, Long)].head()
    assert(dReal === dDry && mReal === mDry,
      s"the real vacuum must do exactly what the dry run reported: " +
        s"($dReal,$mReal) vs ($dDry,$mDry)")
  }

  test("RESTORE TABLE ... TIMESTAMP AS OF resolves through the commit wall-clock") {
    val (t, _) = catalogTable("rtscat")
    t.commit(kv(0 until 10))
    val vTarget = t.currentVersion()
    Thread.sleep(5)
    // tz-unambiguous literal (trailing Z): the session parses it with
    // its own timestamp semantics regardless of the JVM default zone
    val cut = java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString
    Thread.sleep(5)
    t.commit(kv(10 until 25))
    val (v, nf) = spark.sql(
      s"RESTORE TABLE rtscat.db.t TO TIMESTAMP AS OF '$cut'")
      .as[(Long, Long)].head()
    assert(v === t.currentVersion() && nf === t.fileCount(v).toLong)
    assert(t.read(spark).count() === 10,
      "the restore must land on the newest version at/before the timestamp")
    assert(t.listingOf(v) === t.listingOf(vTarget))
  }

  test("SQL CHECK constraints: ADD validates existing rows, commits enforce, DROP lifts") {
    val (t, _) = catalogTable("ckcat")
    spark.sql("INSERT INTO ckcat.db.t SELECT id, concat('r', id) FROM range(20)")
    // adding a constraint the data violates refuses outright
    val exAdd = intercept[Exception] {
      spark.sql("ALTER TABLE ckcat.db.t ADD CONSTRAINT pos CHECK (id > 5)")
    }
    assert(exAdd.getMessage.contains("existing rows violate"))
    spark.sql("ALTER TABLE ckcat.db.t ADD CONSTRAINT pos CHECK (id >= 0)")
    assert(t.checkConstraintsOf(t.currentVersion()) === Map("pos" -> "id >= 0"))
    // a violating INSERT refuses and leaves no trace
    val head = t.currentVersion()
    val exIns = intercept[Exception] {
      spark.sql("INSERT INTO ckcat.db.t SELECT -1, 'bad'")
    }
    assert(exIns.getMessage.contains("CHECK constraint pos") ||
      Option(exIns.getCause).exists(_.getMessage.contains("CHECK constraint pos")))
    assert(t.currentVersion() === head)
    assert(spark.sql("SELECT count(*) FROM ckcat.db.t").head().getLong(0) === 20L)
    // a satisfying INSERT lands
    spark.sql("INSERT INTO ckcat.db.t SELECT 100, 'ok'")
    assert(spark.sql("SELECT count(*) FROM ckcat.db.t").head().getLong(0) === 21L)
    // DROP CONSTRAINT lifts the gate
    spark.sql("ALTER TABLE ckcat.db.t DROP CONSTRAINT pos")
    spark.sql("INSERT INTO ckcat.db.t SELECT -1, 'now fine'")
    assert(spark.sql("SELECT count(*) FROM ckcat.db.t").head().getLong(0) === 22L)
    // other ALTER statements still delegate to Spark untouched
    spark.sql("ALTER TABLE ckcat.db.t ADD COLUMNS (extra BIGINT)")
    assert(spark.table("ckcat.db.t").columns.contains("extra"))
  }
}
