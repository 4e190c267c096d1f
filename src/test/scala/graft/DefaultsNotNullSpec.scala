package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** COLUMN DEFAULTS (two-default model: CURRENT for writers, EXISTS for
  * readers over pre-evolution files) and NOT NULL invariants (CHECK
  * machinery with reserved names) — Scala + SQL surfaces, ALTER
  * interplay, time travel, and the enforcement gates. */
class DefaultsNotNullSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(): (SnapshotTable, String) = {
    val dir = Files.createTempDirectory("graft_def").toString
    (SnapshotTable(dir), dir)
  }

  private def withCatalog[A](name: String)(body: String => A): A = {
    val wh = Files.createTempDirectory(s"graft_${name}_wh").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    try body(wh)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }

  test("readers fill a later-added column from its EXISTS default, per file") {
    val (t, _) = freshTable()
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1)) // pre-evolution file
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.LongType))))
    t.setColumnDefault(spark, "score", "42")
    // a post-default append carrying EXPLICIT values (including null)
    t.commit(Seq((3L, "c", 7L)).toDF("id", "name", "score"))
    t.commit(Seq((4L, "d", null.asInstanceOf[java.lang.Long]))
      .toDF("id", "name", "score"))
    val rows = t.read(spark).orderBy("id")
      .select("id", "score").as[(Long, Option[Long])].collect().toSeq
    assert(rows === Seq(1L -> Some(42L), 2L -> Some(42L),
      3L -> Some(7L), 4L -> None),
      "pre-evolution files read the default; explicit values (and " +
        "explicit nulls) in post-default files are untouched")
    // a copy-on-write merge rewrites the pre-evolution file: the row it
    // carries must be written with the default, not with NULL
    t.merge(spark, Seq((2L, "b", 7L)).toDF("id", "name", "score"), Seq("id"))
    val merged = t.read(spark).orderBy("id")
      .select("id", "score").as[(Long, Option[Long])].collect().toSeq
    assert(merged === Seq(1L -> Some(42L), 2L -> Some(7L),
      3L -> Some(7L), 4L -> None),
      "the carried row of a merged pre-evolution file keeps its default")
  }

  test("defaults round-trip the manifest; drop restores null-fill; time travel") {
    val (t, _) = freshTable()
    t.commit(Seq((1L, "x")).toDF("id", "name"))
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField("tag",
      org.apache.spark.sql.types.StringType))))
    val vSet = t.setColumnDefault(spark, "tag", "'fresh'")
    assert(t.columnDefaultsOf(vSet)("tag")._1 === "'fresh'")
    assert(t.read(spark).select("tag").head.getString(0) === "fresh")
    // non-foldable / ill-typed exprs refuse at SET time
    intercept[Exception] { t.setColumnDefault(spark, "tag", "id + 1") }
    intercept[Exception] { t.setColumnDefault(spark, "nope", "'x'") }
    val vDrop = t.dropColumnDefault("tag")
    assert(t.columnDefaultsOf(vDrop).isEmpty)
    assert(t.read(spark).select("tag").head.isNullAt(0),
      "after DROP DEFAULT the pre-evolution file null-fills again")
    // the set-default version still reads the default (time travel)
    assert(t.readAt(spark, vSet).select("tag").head.getString(0) === "fresh")
  }

  test("NOT NULL: add validates existing rows; commits enforce; drop lifts") {
    val (t, _) = freshTable()
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    t.setNotNull(spark, "name")
    assert(t.isNotNull(t.currentVersion(), "name"))
    // a violating append refuses and nothing publishes
    val before = t.currentVersion()
    intercept[Exception] {
      t.commit(Seq((3L, null.asInstanceOf[String])).toDF("id", "name")) }
    assert(t.currentVersion() === before)
    // adding NOT NULL over existing nulls refuses
    t.commit(Seq((4L, null.asInstanceOf[String])).toDF("id", "name") // legal: id-only invariant
      .select(col("id"), lit("ok").as("name")))
    intercept[Exception] { t.setNotNull(spark, "nope") }
    t.dropNotNull("name")
    t.commit(Seq((5L, null.asInstanceOf[String])).toDF("id", "name"))
    assert(t.read(spark).filter(col("name").isNull).count() === 1)
  }

  test("NOT NULL add refuses over pre-evolution null-fill") {
    val (t, _) = freshTable()
    t.commit(Seq((1L, "a")).toDF("id", "name"))
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField("extra",
      org.apache.spark.sql.types.StringType))))
    val e = intercept[Exception] { t.setNotNull(spark, "extra") }
    assert(e.getMessage.contains("violate"))
  }

  test("rename/drop follow: default re-keys, notnull rewrites, drop removes both") {
    val (t, _) = freshTable()
    t.commit(Seq((1L, "a", 5L)).toDF("id", "name", "score"))
    t.setColumnDefault(spark, "score", "9")
    t.setNotNull(spark, "name")
    t.renameColumn("score", "points")
    t.renameColumn("name", "label")
    val v = t.currentVersion()
    assert(t.columnDefaultsOf(v).keySet === Set("points"))
    assert(t.isNotNull(v, "label") && !t.isNotNull(v, "name"))
    // the rewritten invariant still enforces under the new name
    intercept[Exception] {
      t.commit(Seq((2L, null.asInstanceOf[String], 1L))
        .toDF("id", "label", "points")) }
    t.dropColumn("points")
    assert(t.columnDefaultsOf(t.currentVersion()).isEmpty)
  }

  test("SQL: CREATE with DEFAULT + NOT NULL; INSERT omitting the column applies it") {
    withCatalog("defcat") { wh =>
      spark.sql("CREATE TABLE defcat.db.t (id BIGINT NOT NULL, " +
        "status STRING DEFAULT 'new', n INT DEFAULT 3) " +
        "USING `graft-snapshot`")
      spark.sql("INSERT INTO defcat.db.t (id) VALUES (1)")
      spark.sql("INSERT INTO defcat.db.t VALUES (2, 'done', DEFAULT)")
      val got = spark.sql(
        "SELECT id, status, n FROM defcat.db.t ORDER BY id")
        .as[(Long, String, Int)].collect().toSeq
      assert(got === Seq((1L, "new", 3), (2L, "done", 3)))
      // NOT NULL enforces through SQL INSERT
      intercept[Exception] {
        spark.sql("INSERT INTO defcat.db.t VALUES (NULL, 'x', 1)") }
    }
  }

  test("SQL: ALTER COLUMN SET/DROP DEFAULT and SET/DROP NOT NULL route through the catalog") {
    withCatalog("defalt") { wh =>
      spark.sql("CREATE TABLE defalt.db.t (id BIGINT, s STRING) " +
        "USING `graft-snapshot`")
      spark.sql("INSERT INTO defalt.db.t VALUES (1, 'a')")
      spark.sql("ALTER TABLE defalt.db.t ADD COLUMNS (flag STRING)")
      spark.sql("ALTER TABLE defalt.db.t ALTER COLUMN flag SET DEFAULT 'on'")
      assert(spark.sql("SELECT flag FROM defalt.db.t").head.getString(0) === "on")
      spark.sql("INSERT INTO defalt.db.t (id, s) VALUES (2, 'b')")
      assert(spark.sql(
        "SELECT count(*) FROM defalt.db.t WHERE flag = 'on'")
        .head.getLong(0) === 2)
      spark.sql("ALTER TABLE defalt.db.t ALTER COLUMN flag DROP DEFAULT")
      assert(spark.sql("SELECT flag FROM defalt.db.t WHERE id = 1")
        .head.isNullAt(0), "drop default restores null-fill on old files")
      spark.sql("ALTER TABLE defalt.db.t ALTER COLUMN s SET NOT NULL")
      intercept[Exception] {
        spark.sql("INSERT INTO defalt.db.t VALUES (3, NULL, 'x')") }
      spark.sql("ALTER TABLE defalt.db.t ALTER COLUMN s DROP NOT NULL")
      spark.sql("INSERT INTO defalt.db.t VALUES (3, NULL, 'x')")
      assert(spark.sql("SELECT count(*) FROM defalt.db.t").head.getLong(0) === 3)
    }
  }

  test("DML + optimize on a defaulted table record a BARE manifest schema (the brick regression)") {
    val (t, _) = freshTable()
    t.commit(Seq((1L, "a", 5L), (2L, "b", 6L), (3L, "c", 7L))
      .toDF("id", "name", "quality").repartition(3))
    t.setColumnDefault(spark, "quality", "42")
    // each of these publishes a #schema= line derived from the
    // defaults-ENRICHED read schema; toDDL on that schema renders a
    // DEFAULT clause fromDDL cannot parse — any of them bricking the
    // table shows up as the NEXT operation throwing ParseException
    t.deleteWhere(spark, col("id") === 1L, dvMaxRowsPerFile = 1000)
    t.updateWhere(spark, col("id") === 2L, Map("name" -> lit("B")),
      dvMaxRowsPerFile = 1000)
    t.optimize(spark, smallFileBytes = Long.MaxValue)
    t.merge(spark, Seq((3L, "C", 9L), (4L, "d", 1L))
      .toDF("id", "name", "quality"), Seq("id"))
    val rows = t.read(spark).orderBy("id")
      .select("id", "name", "quality").as[(Long, String, Long)]
      .collect().toSeq
    assert(rows === Seq((2L, "B", 6L), (3L, "C", 9L), (4L, "d", 1L)))
    assert(t.columnDefaultsOf(t.currentVersion()).contains("quality"),
      "the default itself survives the DML sequence")
  }

  test("declared properties survive INSERT OVERWRITE; the replacing batch is validated") {
    val (t, _) = freshTable()
    t.commit(Seq((1L, "a")).toDF("id", "name"))
    t.setColumnDefault(spark, "name", "'anon'")
    t.setNotNull(spark, "name")
    t.commit(Seq((9L, "z")).toDF("id", "name"), replace = true)
    val v = t.currentVersion()
    assert(t.columnDefaultsOf(v).contains("name"),
      "DEFAULT survives a replace (declarative property, Delta parity)")
    assert(t.isNotNull(v, "name"), "NOT NULL survives a replace")
    // and the replacing batch itself is validated against the carried set
    val before = t.currentVersion()
    intercept[Exception] {
      t.commit(Seq((10L, null.asInstanceOf[String])).toDF("id", "name"),
        replace = true) }
    assert(t.currentVersion() === before)
  }

  test("defaults survive the hadoop-fs store and the anchor round-trip") {
    val dir = Files.createTempDirectory("graft_def_hs").toString
    val t = SnapshotTable(dir, graft.sources.LogStore.hadoopFs)
    t.commit(Seq((1L, "a")).toDF("id", "name"))
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType))))
    t.setColumnDefault(spark, "v", "11")
    t.setNotNull(spark, "name")
    // drive past the anchor cadence so state reconstructs from parquet
    (0 until 25).foreach(i =>
      t.commit(Seq((100L + i, s"r$i", 1L)).toDF("id", "name", "v")))
    val t2 = SnapshotTable(dir) // fresh handle: anchor + delta fold
    val v = t2.currentVersion()
    assert(t2.columnDefaultsOf(v).keySet === Set("v"))
    assert(t2.isNotNull(v, "name"))
    assert(t2.read(spark).filter(col("id") === 1L)
      .select("v").head.getLong(0) === 11L)
  }
}
