package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.SparkTestBase

/** The snapshot read composition: `readAt` (a DSv2 clean scan plus the
  * positioned scan of the vectored files) and `readAs` must give the
  * rows of the all-v1 reference `readFilesDvAware`, for a plain, a
  * column-mapped, a vectored and a mapped+vectored head. */
class SnapshotReadCompositionSpec extends SparkTestBase {
  import spark.implicits._

  /** 300 rows clustered by id into three files: [0,100), [100,200),
    * [200,300); `mapped` renames `s` to `label`, `vectored` deletes
    * ids 50 and 51 of the first file as a deletion vector. */
  private def head(mapped: Boolean, vectored: Boolean): SnapshotTable = {
    val t = SnapshotTable(Files.createTempDirectory("graft_compose").toString)
    t.commit((0L until 300L).map(i => (i, s"r$i")).toDF("id", "s"))
    t.compact(spark, files = 3, sortKey = Some(col("id")))
    if (mapped) t.renameColumn("s", "label")
    if (vectored) {
      val r = t.deleteWhere(spark, col("id").isin(50L, 51L), dvMaxRowsPerFile = 1000)
      assert(r.filesDvUpdated === 1 && r.filesRewritten === 0)
    }
    assert(t.readMappingOf(t.currentVersion()).nonEmpty === mapped)
    assert(t.dvRelOf(t.currentVersion()).nonEmpty === vectored)
    t
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(df.schema.fieldIndex("id")))

  private def batchScans(p: SparkPlan): Seq[BatchScanExec] =
    p.collect {
      case b: BatchScanExec => Seq(b)
      case q: QueryStageExec => batchScans(q.plan)
      case a: AdaptiveSparkPlanExec => batchScans(a.executedPlan)
    }.flatten

  for ((mapped, vectored) <- Seq((false, false), (true, false), (false, true), (true, true)))
    test(s"readAt and readAs equal the all-v1 reference (mapped=$mapped, vectored=$vectored)") {
      val t = head(mapped, vectored)
      val v = t.currentVersion()
      val reference = t.readFilesDvAware(spark, t.readSchemaOf(v).get,
        t.listingOf(v), t.dvRelOf(v), mapping = t.readMappingOf(v))
      val at = t.readAt(spark, v)
      assert(at.schema.fieldNames === reference.schema.fieldNames)
      assert(rows(at) === rows(reference))
      assert(rows(at).size === (if (vectored) 298 else 300))
      val name = if (mapped) "label" else "s"
      val declared = StructType(Seq(StructField(name, StringType),
        StructField("id", LongType)))
      val as = t.readAs(spark, declared)
      assert(as.schema.fieldNames.toSeq === Seq(name, "id"))
      assert(rows(as) === rows(at.select(name, "id")))
    }

  test("a mapped and vectored head reads its clean files through the DSv2 zone-map scan") {
    val t = head(mapped = true, vectored = true)
    val q = t.read(spark).filter(col("id") >= 250L)
    assert(q.select("id").as[Long].collect().sorted.toSeq === (250L until 300L))
    val scans = batchScans(q.queryExecution.executedPlan).map(_.scan)
    assert(scans.nonEmpty, s"no BatchScan in:\n${q.queryExecution.executedPlan}")
    val planned = scans.map {
      case z: ZoneMaps.ZoneMapScan => z.plannedFileCount
      case other => fail(s"the clean half must plan a ZoneMapScan, got $other")
    }.sum
    assert(planned === 1, "the two clean files must prune to the covering one")
    assert(ZoneMapFileIndex.lastFilteredSelection === (0, 1),
      "the vectored file must prune in the positioned scan")
  }
}
