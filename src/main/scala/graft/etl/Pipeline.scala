package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Scalars
import graft.schema.Schemas
import graft.sources.Tables
import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.{Failure, Success, Try}

/** Dataflow orchestration (SURVEY.md §2.11, D1–D6): the Airflow DAG
  * semantics as a plain driver program.
  *
  * - D1 staged pipeline: clean → load, sequential (master_dag.py:22-39);
  * - D2/D6 fan-out per competitor and per table (scrape_dag.py:29-46,
  *   load_to_bigquery_dag.py:144-184): independent units run
  *   CONCURRENTLY through [[fanOut]] — the clean stage's competitor
  *   branches and, inside each, its (competitor × header) writes; a
  *   competitor's products and packs branches; the four tagged commits
  *   of one SCD load. The load stage across competitors stays
  *   sequential, because every competitor's load reads and appends the
  *   same shared warehouse tables;
  * - D3 continue-on-failure: a competitor's failure is recorded to
  *   `logs` and the run proceeds (trigger_rule='all_done');
  * - D4 retry with bounded attempts (retries=1 in the reference);
  * - D5 delay sensors are a file-handoff artifact → no-op here (each
  *   stage reads what the previous stage finished writing).
  *
  * The per-stage units are whole Spark jobs; orchestration never touches
  * row data on the driver.
  */
object Pipeline {

  final case class StageResult(competitor: String, stage: String,
                               ok: Boolean, error: Option[String])

  /** D4: run `f` up to 1+retries times (reference: retries=1). */
  def withRetry[T](retries: Int = 1)(f: => T): T = {
    var attempt = 0
    var out: Option[T] = None
    var last: Throwable = null
    while (out.isEmpty && attempt <= retries) {
      try out = Some(f)
      catch { case e: Throwable => last = e; attempt += 1 }
    }
    out.getOrElse(throw last)
  }

  /** Run independent `tasks` concurrently and wait for every one of
    * them; the outcomes come back in input order, so a caller that
    * rethrows the first failure rethrows the same one on every run.
    *
    * Each task runs on a thread created for this call, from the
    * calling thread: Spark copies its local properties (job group,
    * scheduler pool, job tags) into a thread when the thread is
    * created, not when work is handed to it, so the threads of a
    * long-lived pool would run every later caller's jobs under the
    * group of whichever caller first started them. */
  def fanOut[T](tasks: Seq[() => T]): Seq[Try[T]] = {
    val pool = Executors.newFixedThreadPool(math.max(1, tasks.size), fanOutThreads)
    try tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() })).map { f =>
      try Success(f.get())
      catch { case e: ExecutionException => Failure(e.getCause) }
    }
    finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS): Unit
    }
  }

  /** Names the threads of [[fanOut]]; `newThread` runs on the thread
    * that submits, which the new thread inherits its properties from. */
  private val fanOutThreads: ThreadFactory = {
    val n = new AtomicInteger()
    r => new Thread(r, s"graft-fan-out-${n.incrementAndGet()}")
  }

  private def stageResults(competitors: Seq[String], stage: String,
                           outcomes: Seq[Try[Any]]): Seq[StageResult] =
    competitors.zip(outcomes).map {
      case (c, Success(_)) => StageResult(c, stage, ok = true, None)
      case (c, Failure(e)) => StageResult(c, stage, ok = false, Some(e.getMessage))
    }

  /** Full run: clean all (competitor × header) raw drops, then load each
    * competitor's products/packs/logs into the warehouse, isolating
    * failures per competitor (D3). Returns per-stage results; failures
    * are also appended to the `logs` table as audit rows (V2). */
  def run(spark: SparkSession, rawDir: String, cleanDir: String, warehouseDir: String,
          competitors: Seq[String] = Seq("mobileviking", "scarlet")): Seq[StageResult] = {

    val cleanResults = stageResults(competitors, "clean", fanOut(competitors.map(c =>
      () => withRetry() { CleanJob.run(spark, rawDir, cleanDir, Seq(c)) })))

    val loadResults = stageResults(competitors, "load", competitors.map { c =>
      try Success(withRetry() { loadCompetitor(spark, cleanDir, warehouseDir, c) })
      catch { case e: Throwable => Failure(e) }
    })

    // V2 audit rows, whether or not stages succeeded (utils.py:54-68)
    val results = cleanResults ++ loadResults
    import spark.implicits._
    val logRows = results.map(r =>
      (r.competitor, java.time.LocalDate.now().toString,
        r.error.getOrElse("no error")))
      .toDF("competitor_name", "scraped_at", "error_details")
      .withColumn("status", Scalars.statusOf(col("error_details")))
      .withColumn("scraped_at", to_date(col("scraped_at")))
    graft.sources.SnapshotTable(s"$warehouseDir/logs").commit(logRows)
    results
  }

  /** Batch-load idempotency key = md5 of the drop's CONTENT (cleaned
    * NDJSON is small, so a driver-side read is cheap): a retry of the
    * same drop hits the tag in snapshot history, any regenerated drop
    * with different content is a new batch — unlike (length, mtime),
    * which a same-size rewrite within the filesystem's timestamp tick
    * would falsely dedupe. The Spark json writer produces a DIRECTORY
    * of part files, so walk it in name order (skipping _SUCCESS/CRC
    * markers). At lake scale, key on the object store's version/etag
    * instead of reading bytes. */
  private def contentKey(path: java.io.File, prefix: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def feed(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(feed)
      else if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) {
        md.update(f.getName.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    feed(path)
    s"load_${prefix}_" + md.digest().map("%02x".format(_)).mkString
  }

  /** Load one competitor's cleaned NDJSON into the warehouse tables
    * (products SCD + packs anti-join), mirroring load_to_bigquery_dag.
    *
    * Every warehouse table is a [[graft.sources.SnapshotTable]]; the
    * load lands as per-table TAGGED atomic commits
    * (StreamingJobs.upsertOnce, tag keyed by the input file's content
    * hash). A crash mid-load leaves each table either untouched — at
    * its previous committed version, fully readable — or cleanly
    * advanced; RETRY re-entry (withRetry in `run`) recomputes the
    * delta against current state and commits exactly the tables whose
    * tag is missing, while a retry after full success plans no Spark
    * job at all. This closes the torn-warehouse window the old
    * append-to-directory writes had.
    *
    * The products branch and the packs branch run concurrently
    * ([[fanOut]]); both finish before this returns, and the first
    * failure, products before packs, is rethrown. */
  def loadCompetitor(spark: SparkSession, cleanDir: String, warehouseDir: String,
                     competitor: String): Unit = {
    // the two branches write disjoint tables (stagePacks reads only
    // `packs`), so one state serves both
    val state = graft.streaming.StreamingJobs.loadState(spark, warehouseDir)
    val productsPath = new java.io.File(s"$cleanDir/${competitor}_products.ndjson")
    val packsPath = new java.io.File(s"$cleanDir/${competitor}_packs.ndjson")
    fanOut(Seq(
      () => if (productsPath.exists()) {
        val batch = Tables.ndjson(spark, Schemas.cleanProduct, productsPath.getAbsolutePath)
          .withColumn("scraped_at", to_date(col("scraped_at")))
        graft.streaming.StreamingJobs.upsertOnce(batch,
          contentKey(productsPath, competitor), warehouseDir, state)
      },
      () => if (packsPath.exists()) {
        val rawPacks = Tables.ndjson(spark, Schemas.rawPack, packsPath.getAbsolutePath)
        val staged = WarehouseLoad.stagePacks(state, rawPacks)
          .withColumn("scraped_at", to_date(col("scraped_at")))
        // tagged atomic commit, same contract as the products tables: the
        // anti-join is naturally idempotent against committed state, but
        // the tag also makes a RETRY of an already-landed drop plan no
        // Spark job at all
        graft.sources.SnapshotTable(s"$warehouseDir/packs")
          .commitOnce(contentKey(packsPath, s"packs_$competitor"), staged): Unit
      })).foreach(_.get)
  }
}
