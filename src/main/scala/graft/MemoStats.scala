package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** The memo registry for the catalog's shared subtrees (cluster labels,
  * MinHash signatures, the k-means table, the top-k tables, pair mining,
  * …) and their build-time accounting.
  *
  * A shared subtree is computed once per (session, name, input dir) no
  * matter how many catalog queries consume it. That is the right
  * execution strategy, but it makes single-pass benchmark attribution
  * opaque: the first consumer pays the whole build and every later
  * consumer looks nearly free. So every build's wall-clock accumulates
  * under its memo name, and Bench reports a separate memo_build_ms map
  * (round-6 verdict item 3).
  */
object MemoStats {
  private val builds = scala.collection.concurrent.TrieMap.empty[String, Long]

  private final case class Key(s: SparkSession, name: String, d: String)

  /** One build of `name`: forced at most once, by whichever caller gets
    * its monitor first; callers that arrive during the build wait for it. */
  private final class Cell(name: String, build: () => Any) {
    @volatile private var result: Option[Any] = None

    def built: Option[Any] = result

    def value: Any = result.getOrElse(synchronized {
      result.getOrElse {
        val t0 = System.nanoTime()
        val v = build()
        val ms = (System.nanoTime() - t0) / 1000000L
        builds.updateWith(name) { prev => Some(prev.getOrElse(0L) + ms) }
        datasets(v).foreach(Blocks.protect)
        result = Some(v)
        v
      }
    })
  }

  /** `files`: (path, length, modification time) of every file under the
    * input dir when the cell was installed. */
  private final case class Entry(files: Set[(String, Long, Long)], cell: Cell)

  private val memos = new ConcurrentHashMap[Key, Entry]()

  /** The memoized value of `build` for `(s, name, d)`.
    *
    *  - Data identity: every call lists the files under `d` with the
    *    session's Hadoop FileSystem (Spark's own scan lists the same tree
    *    on every read). An entry built over another listing is replaced,
    *    and the checkpoints of its value lose their [[Blocks.protect]]ion,
    *    so the next [[Blocks.sweep]] frees them.
    *  - Single build: the entry is installed by one map operation that
    *    does not build, and the build runs outside any map lock, so
    *    concurrent callers (Verify's batches) build each memo exactly once
    *    and memos may nest (bands → signatures, cluster labels → Jaccard
    *    pairs, triples → pairs → baskets). The nesting is acyclic, so the
    *    per-entry locks cannot deadlock.
    *  - A build that throws leaves nothing cached; the next call builds
    *    again.
    *  - The build's wall-clock accumulates under `name`, and the Datasets
    *    the value holds (the value itself, or the Dataset fields of a case
    *    class or tuple) are protected from the between-queries sweep: a
    *    memo's data is a local checkpoint with no lineage to recompute
    *    from once its blocks are dropped.
    *
    * The key holds the session strongly: every value is a Dataset bound
    * to its session, which a weak key would not free either. */
  def get[T](name: String, s: SparkSession, d: String)(build: => T): T = {
    val key = Key(s, name, d)
    val files = listing(s, d)
    var stale: Entry = null
    val entry = memos.compute(key, (_, old) =>
      if (old != null && old.files == files) old
      else {
        stale = old
        Entry(files, new Cell(name, () => build))
      })
    if (stale != null) stale.cell.built.foreach(datasets(_).foreach(Blocks.unprotect))
    try entry.cell.value.asInstanceOf[T]
    catch {
      case t: Throwable =>
        memos.remove(key, entry)
        throw t
    }
  }

  /** `listStatus`, not `listFiles`: on the local file system without
    * native Hadoop, `listFiles` fills each file's permissions by forking
    * a process (12.6 ms vs 0.1 ms per listing of the 10 sf0.1 files). */
  private def listing(s: SparkSession, d: String): Set[(String, Long, Long)] = {
    val dir = new Path(d)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    def files(p: Path): Seq[(String, Long, Long)] = fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) files(f.getPath)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    files(dir).toSet
  }

  private def datasets(v: Any): Iterator[Dataset[_]] = v match {
    case d: Dataset[_] => Iterator(d)
    case p: Product => p.productIterator.collect { case d: Dataset[_] => d }
    case _ => Iterator.empty
  }

  /** Number of registered memo entries (spec observability). */
  private[graft] def entries: Int = memos.size

  def snapshot: Map[String, Long] = builds.toMap

  /** Drop every memo entry and the build accounting. */
  def clear(): Unit = {
    memos.clear()
    builds.clear()
  }
}
