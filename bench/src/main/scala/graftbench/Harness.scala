package graftbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables, VersionPin}

/** Benchmark harness: runs one workload's queries, in the order given,
  * through the engine's public entry points (`SparkEntry.queries`, the
  * `Tables` readers, the DataFrame sink) and writes raw measurements as
  * JSON. Statistics, layer attribution and the oracle check live in
  * `run.py`, which launches this.
  *
  * Arguments (all required, `--key value`):
  *   --fixture   parquet fixture directory
  *   --queries   comma-separated query names, in pass order
  *   --tables    base tables to persist before each pass (`Tables` names,
  *               plus `events`, `videos` and `edges`)
  *   --sink      `parquet` (a real sink per result) or `noop`
  *   --seconds   measuring time for the timed passes
  *   --trace     0: untraced passes only; 1: alternate untraced/traced
  *   --cores     local[N] task slots
  *   --work      scratch root: warehouse, local dir, sink and check outputs
  *   --out       raw JSON result file
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val fixture = a("fixture")
    val queries = a("queries").split(",").toSeq
    val tables = a("tables").split(",").toSeq
    val parquetSink = a("sink") == "parquet"
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsoluteFile
    val warehouse = new File(work, "warehouse")
    val sinkDir = new File(work, "sink")
    val checkDir = new File(work, "check")

    val t0 = System.nanoTime()
    val root = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toURI.toString)
      .config("spark.local.dir", new File(work, "local").getPath)
      .getOrCreate()
    val sc = root.sparkContext
    sc.setLogLevel("WARN")
    VersionPin.assertCompat(root)
    val contextStart = secs(t0)

    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** A fresh session scope: nothing cached, so the pass rebuilds every
      * session-shared result (base tables, SCC labels, peels). Landings
      * on disk survive. */
    def freshScope(): SparkSession = {
      root.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      root.newSession()
    }

    def storedMb(): Double = {
      BusDrain(sc)
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
    }

    /** Persists the base tables the workload reads (outside pass_s). */
    def loadTables(s: SparkSession): Unit = tables.foreach {
      case "events" => Tables.events(s, fixture).count()
      case "videos" => Tables.videos(s, fixture).count()
      case "edges" => Tables.videoEdges(s, fixture).count()
      case t => Tables.table(s, fixture, t).count()
    }

    /** Storage of the cached RDDs the engine still references. Blocks of
      * unreachable RDDs (old loop rounds' checkpoints) are freed by the
      * context cleaner only after a GC, so without one the figure would
      * depend on GC timing; collect and read until it stops changing.
      * Read once, after the last pass, so no timed pass follows a forced
      * full GC. */
    def settledMb(): Double = {
      var (prev, cur, tries) = (-1.0, storedMb(), 0)
      while (cur != prev && tries < 10) {
        System.gc()
        Thread.sleep(200)
        prev = cur
        cur = storedMb()
        tries += 1
      }
      cur
    }

    /** One pass over the workload: build each query, then write it to
      * `out` as parquet, or to the noop sink when `out` is empty. With a
      * trace, every call runs inside a span. */
    def runPass(s: SparkSession, trace: Option[Trace], out: Option[File]): Seq[Map[String, Any]] = {
      def within[T](kind: String, name: String, parent: Int)(body: Int => T): T =
        trace.fold(body(0))(_.span(kind, name, parent)(body))
      within("pass", "pass", 0) { passSpan =>
        queries.map { q =>
          attempted += 1
          val qs = System.nanoTime()
          var sinkBytes = 0L
          try {
            within("query", q, passSpan) { qSpan =>
              val df = within("build", q, qSpan)(_ => SparkEntry.queries(q)(s, fixture))
              within("sink", q, qSpan) { _ =>
                out match {
                  case Some(dir) =>
                    val path = new File(dir, q)
                    df.write.mode("overwrite").parquet(path.getPath)
                    sinkBytes = treeBytes(path)
                  case None => df.write.format("noop").mode("overwrite").save()
                }
              }
            }
          } catch {
            case e: Throwable =>
              failures += Map("query" -> q, "error" -> String.valueOf(e.getMessage).take(500))
              System.err.println(s"[graftbench] $q failed: $e")
          }
          Map("name" -> q, "wall_s" -> secs(qs), "sink_bytes" -> sinkBytes)
        }
      }
    }

    // Set-up: load the base tables and run one untimed warm pass on the
    // run's empty warehouse. It fills the JIT, builds every landing and
    // writes the outputs the oracle check reads to `checkDir`, which no
    // timed pass overwrites.
    val st = System.nanoTime()
    val warm = root.newSession()
    loadTables(warm)
    val warmQueries = runPass(warm, None, Some(checkDir))
    val setup = secs(st)

    // Timed passes, each from a fresh session scope. Traced runs trace
    // every other pass, starting with the first, and make at least three
    // (traced, untraced, traced): a steady warm-up drift then cancels out
    // of the tracing overhead, and counters show their min and max.
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val timedStart = System.nanoTime()
    while (passes.isEmpty || secs(timedStart) < seconds ||
        (traced && passes.size < 3)) {
      val passId = passes.size + 1
      val tracing = traced && passes.size % 2 == 0
      val s = freshScope()
      val lt = System.nanoTime()
      loadTables(s)
      val loadS = secs(lt)
      val tablesMb = storedMb()
      val trace = if (tracing) Some(new Trace(sc, passId)) else None
      trace.foreach { t =>
        sc.addSparkListener(t.sparkListener)
        s.listenerManager.register(t.qeListener)
      }
      val pt = System.nanoTime()
      val qs = runPass(s, trace, if (parquetSink) Some(sinkDir) else None)
      val passS = secs(pt)
      BusDrain(sc) // the trace is complete once the bus is empty
      trace.foreach { t =>
        s.listenerManager.unregister(t.qeListener)
        sc.removeSparkListener(t.sparkListener)
      }
      passes += Map("pass" -> passId, "traced" -> tracing, "pass_s" -> passS,
        "load_s" -> loadS, "tables_cached_mb" -> tablesMb,
        "queries" -> qs) ++
        trace.map(t => Map("trace" -> t.toJson)).getOrElse(Map.empty)
    }

    val cacheMb = settledMb()

    // Fixed, fixture-free calibration probe: the same scan + shuffle +
    // re-aggregate on every host, so results can be set against the
    // host's speed at the time.
    def calibrate(): Double = {
      val st = System.nanoTime()
      root.range(0L, 2L * 1000 * 1000, 1, cores)
        .select((col("id") % 65536L).as("k"),
          ((col("id") * 2654435761L) % 1000003L).as("v"))
        .groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("c"))
        .agg(sum("sv"), sum("c"))
        .write.format("noop").mode("overwrite").save()
      secs(st)
    }
    val calibration = (1 to 3).map(_ => calibrate())

    val rt = Runtime.getRuntime
    val result = Map(
      "host" -> Map(
        "cores" -> cores,
        "nproc" -> rt.availableProcessors(),
        "driver_heap_mb" -> rt.maxMemory() / MB,
        "spark_version" -> root.version,
        "scala_version" -> scala.util.Properties.versionNumberString,
        "java_version" -> System.getProperty("java.version")),
      "context_start_s" -> contextStart,
      "setup_s" -> setup,
      "cache_mb" -> cacheMb,
      "warm_queries" -> warmQueries,
      "calibration_s" -> calibration,
      "attempted" -> attempted,
      "failures" -> failures.toList,
      "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "check_dir" -> checkDir.getPath,
      "passes" -> passes.toList)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(a("out")), result)
    root.stop()
  }

  private val MB = 1024.0 * 1024.0

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}
