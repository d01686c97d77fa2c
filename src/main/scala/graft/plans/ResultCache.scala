package graft.plans

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Transparent query-result cache keyed by the CANONICALIZED logical
  * plan — the engine-side memo that serves a repeated dashboard /
  * pipeline-stage query from its materialized result instead of
  * re-scanning the fact table.
  *
  * Keying uses `optimizedPlan.canonicalized` (exprIds normalized
  * positionally, literals/ordering canonical), so two INDEPENDENTLY
  * BUILT but semantically identical DataFrames hit the same entry;
  * the semantic hash indexes the map and the full canonical string is
  * compared on hit, so a hash collision degrades to a miss, never a
  * wrong result. Entries materialize as parquet under the cache dir
  * and are re-read on hit — the hit-path plan scans the (result-sized)
  * cache file, not the base table.
  *
  * Scope: results must be deterministic (every query in this engine's
  * registry is, by construction); production adds invalidation on
  * base-table write and a TTL/size eviction policy — both orthogonal
  * to the keying mechanism proven here.
  */
object ResultCache {

  final case class Entry(canonical: String, path: String) {
    // Memoized served frame: a cache HIT used to pay a fresh
    // spark.read.parquet per consumer — driver-side file listing +
    // footer/schema resolution on EVERY hit, ~100-400 ms of pure
    // planning overhead per consuming query (r19 per-job profile: the
    // inter-job gaps of the iterative operators). The resolved
    // relation is immutable, so serving one DataFrame object is safe;
    // rebuilt only if a different SparkSession asks.
    @volatile private[ResultCache] var served: DataFrame = null
  }

  private def serve(spark: SparkSession, entry: Entry): DataFrame = {
    val d = entry.served
    if (d != null && (d.sparkSession eq spark)) d
    else {
      val nd = spark.read.parquet(entry.path)
      entry.served = nd
      nd
    }
  }

  // Keyed by the FULL key string (not its Int hashCode): two distinct
  // keys colliding on hashCode must occupy distinct entries, never
  // evict each other into a permanent rebuild loop. Entry paths come
  // from a process-unique counter, so no two entries ever share a
  // parquet directory. Builds run under a PER-KEY lock (not inside a
  // ConcurrentHashMap mapping function): one build wins a concurrent
  // race and writes the path exactly once, and a build that nests
  // further cache calls (a keyed model build routing through the
  // plan-keyed shared-frame cache) takes a DIFFERENT key's lock instead
  // of re-entering the map mid-update — key nesting is a DAG by
  // construction (keyed artifacts build over plan-cached frames,
  // never the reverse), so lock order cannot cycle.
  private val entries = new ConcurrentHashMap[String, Entry]()
  private val locks = new ConcurrentHashMap[String, Object]()
  private val pathSeq = new AtomicLong(0)
  private val hitCount = new AtomicLong(0)
  private val missCount = new AtomicLong(0)

  private def cached(spark: SparkSession, mapKey: String,
                     canonical: String, prefix: String,
                     build: => DataFrame): DataFrame = {
    val first = entries.get(mapKey)
    val entry =
      if (first != null) { hitCount.incrementAndGet(); first }
      else locks.computeIfAbsent(mapKey, _ => new Object).synchronized {
        val again = entries.get(mapKey)
        if (again != null) { hitCount.incrementAndGet(); again }
        else {
          missCount.incrementAndGet()
          val path = new File(cacheRoot,
            s"${prefix}_${pathSeq.incrementAndGet()}").getAbsolutePath
          // Small row groups (4 MB vs the 128 MB default): an AQE-
          // coalesced build often lands in ONE file with ONE row
          // group, and a one-row-group file is unsplittable — every
          // downstream consumer then scans the artifact on a single
          // task no matter how many cores the session has (r19
          // per-job profile: the pretrain stages serialized
          // behind 1-task scans). 4 MB row groups keep the artifact
          // splittable at any file count; for a re-read-many internal
          // artifact the small compression loss is the right trade.
          build.write.mode("overwrite")
            .option("parquet.block.size", (4 * 1024 * 1024).toString)
            .parquet(path)
          val e = Entry(canonical, path)
          entries.put(mapKey, e)
          e
        }
      }
    serve(spark, entry)
  }

  def hits: Long = hitCount.get()
  def misses: Long = missCount.get()
  def size: Int = entries.size()

  def clear(): Unit = {
    entries.clear(); locks.clear(); hitCount.set(0); missCount.set(0)
  }

  // Per-JVM root: the entries map is per-JVM, so two concurrent
  // processes (sbt test beside a Verify/Bench run) sharing one
  // directory could overwrite each other's parquet mid-read — the
  // documented ResultCacheSpec flakiness class. A pid-scoped dir
  // removes the hazard; a best-effort shutdown hook reclaims it.
  private lazy val cacheRoot: File = {
    val f = new File(sys.props("java.io.tmpdir"),
      s"graft_result_cache/${ProcessHandle.current().pid()}")
    f.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(d: File): Unit = {
        val cs = d.listFiles()
        if (cs != null) cs.foreach(rm)
        d.delete(); ()
      }
      try rm(f) catch { case _: Throwable => () }
    }))
    f
  }

  /** Serve a frame under an EXPLICIT key — the registered-artifact
    * variant for frames whose plan is not canonical-stable across
    * builds (anything downstream of a localCheckpoint / RDD scan,
    * e.g. an iteratively trained model). The caller's key must
    * capture every input the build depends on (source dir, params);
    * this is the same contract as naming a materialized view. The
    * build thunk only runs on a miss. */
  def withKeyedCache(spark: SparkSession, key: String,
                     build: => DataFrame): DataFrame = {
    cached(spark, "k:" + key, key, "k", build)
  }

  /** The standard driver-main wiring (Bench, Verify, Harness,
    * perfbench), called right after `Apps.session`: puts the active
    * session in [[Materialize.Cache]] mode, so the shared
    * preprocessing frames and the cluster map are served through this
    * cache. */
  def installHooks(): Unit =
    Materialize.setMode(SparkSession.active, Materialize.Cache)

  /** Serve `df` through the cache: on a semantic hit, return a scan of
    * the materialized result; on a miss, materialize, register, and
    * return the scan (so hit and miss paths have the same plan shape
    * downstream). */
  def withCache(spark: SparkSession, df: DataFrame): DataFrame = {
    val canon = df.queryExecution.optimizedPlan.canonicalized
    // The map key carries BOTH the full-structure hashCode and the
    // canonical tree string: `toString` TRUNCATES wide field lists
    // (maxToStringFields), so two plans differing only in an elided
    // literal can print identically — the structural hash still
    // separates them (this exact collision served a mod-300 walk
    // table to a mod-2000 query when the key was the string alone).
    val canonStr = canon.toString
    cached(spark, s"e:${canon.hashCode()}:$canonStr", canonStr, "e", df)
  }
}
