package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, Row => SRow}
import org.apache.spark.sql.functions.{col, min, typedLit}
import org.apache.spark.sql.types._

import graft.store.{IndexMaintenancePolicy, VectorStore}

/** Closed-loop, single-client benchmark of the public
  * `graft.store.VectorStore` API.
  *
  * {{{
  * perfbench.Main --workload serve-indexed|ingest-churn --seed N
  *   --seconds S --trace 0|1 --work-dir DIR [--size full|tiny]
  *   [--source-hash H]
  * }}}
  *
  * Prints one report line (sizes and their reasons, environment, every
  * measured number with its sample count) and, last, the result line
  * `{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports
  * the end-to-end metrics; `--trace 1` runs the same workload with every
  * other round traced and reports the per-layer metrics.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, size: String, workDir: String, sourceHash: String)

  val Workloads = Seq("serve-indexed", "ingest-churn")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      m.getOrElse("--size", "full"), need("--work-dir"),
      m.getOrElse("--source-hash", "unknown"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.size == "full" || a.size == "tiny", s"unknown size ${a.size}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = parse(argv)
        val spark = graft.GraftSession.local(
          Runtime.getRuntime.availableProcessors(), "perfbench")
        try new Bench(spark, a).run() finally spark.stop()
      } catch {
        case e: IllegalArgumentException =>
          System.err.println(s"perfbench: ${e.getMessage}"); 2
        case NonFatal(e) => e.printStackTrace(); 3
      }
    System.exit(code)
  }
}

/** Per operation type: attempted and failed calls, and latency samples
  * (a failed call is never a sample).
  */
final class OpStats {
  var attempted = 0
  var failed = 0
  val ms = mutable.ArrayBuffer.empty[Double]
  val tracedMs = mutable.ArrayBuffer.empty[Double]
  val untracedMs = mutable.ArrayBuffer.empty[Double]
  val reqs = mutable.ArrayBuffer.empty[ReqStats]
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

final class Bench(spark: SparkSession, a: Main.Args) {
  import spark.implicits._

  private val s = if (a.size == "tiny") Sizes.tiny else Sizes.full
  private val churn = a.workload == "ingest-churn"
  private val tracer = if (a.trace) Some(new Tracer(spark)) else None
  private val storeRoot = new java.io.File(a.workDir,
    s"stores/${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
  private val ops = mutable.LinkedHashMap.empty[String, OpStats]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var tracing = false
  /** User bytes (4·dim + doc) of rows written by traced write calls. */
  private var tracedUserBytes = 0L
  private def userBytes(rs: Seq[Rec]): Long =
    rs.map(r => 4L * s.dim + r.doc.getBytes("UTF-8").length).sum
  private var reqId = 0L
  private val recalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private val schema = StructType(Seq(
    StructField("vec", ArrayType(FloatType, containsNull = false), false),
    StructField("doc", StringType, true)))

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok && failures.size < 50) failures += what

  private def recall(route: String, r: Double): Unit =
    recalls.getOrElseUpdate(route, mutable.ArrayBuffer.empty) += r

  /** Time one call into `into`; failures are counted, never sampled.
    * `traced` runs it under the tracer as its own request.
    */
  private def call[A](into: mutable.LinkedHashMap[String, OpStats],
      name: String, layer: String, traced: Boolean)(body: => A): Option[A] = {
    val st = into.getOrElseUpdate(name, new OpStats)
    st.attempted += 1
    reqId += 1
    val t0 = System.nanoTime()
    try {
      val out = tracer.filter(_ => traced) match {
        case Some(t) =>
          val (o, rs) = t.traced(reqId, name, layer)(body)
          st.reqs += rs; o
        case None => body
      }
      val ms = (System.nanoTime() - t0) / 1e6
      st.ms += ms
      (if (traced) st.tracedMs else st.untracedMs) += ms
      Some(out)
    } catch {
      case NonFatal(e) =>
        st.failed += 1
        System.err.println(s"perfbench: $name failed: $e")
        None
    }
  }

  /** A public API call, traced in traced rounds. */
  private def op[A](name: String, layer: String = "VectorStore")(body: => A)
      : Option[A] = call(ops, name, layer, tracing)(body)

  private def toDF(rs: Seq[Rec], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rs.map(r => SRow(r.vec.toSeq, r.doc)), slices), schema)

  // ---- set-up ------------------------------------------------------- //

  private final class Built(val store: VectorStore, val dir: String,
      val model: Model, val gen: Gen, val loadS: Double)

  /** One full set-up: generate, create, load through insertDF, build the
    * IVF index, the doc-field sidecar and the lex index (and, on
    * ingest-churn, turn on auto-maintenance).
    */
  private def setUp(rep: Int): Built = {
    val dir = new java.io.File(storeRoot, s"rep$rep").getAbsolutePath
    val gen = new Gen(a.seed, s)
    val corpus = gen.rows(s.rows)
    val model = new Model(s.dim)
    val store = VectorStore.openOrCreate(spark, dir, s.dim,
      tombstoneDeletes = churn)
    var loadNs = 0L
    corpus.grouped(math.ceil(s.rows.toDouble / s.loadBatches).toInt)
      .foreach { chunk =>
        val df = toDF(chunk.toSeq, math.min(4, spark.sparkContext.defaultParallelism))
        val t0 = System.nanoTime()
        val n = op("load")(store.insertDF(df))
        loadNs += System.nanoTime() - t0
        check(n.contains(chunk.length.toLong),
          s"load: insertDF returned $n for ${chunk.length} rows")
        model.insert(chunk.toSeq)
        if (tracing) tracedUserBytes += userBytes(chunk.toSeq)
      }
    store.buildAnnIndex(s.cells, iters = 5, seedRounds = 0)
    store.materializeDocField(Seq("tag"))
    store.buildLexIndex()
    if (churn) store.enableAutoMaintenance(
      IndexMaintenancePolicy(maxCellRows = splitThreshold(dir)))
    new Built(store, dir, model, gen, loadNs / 1e9)
  }

  /** Auto-maintenance threshold for ingest-churn, inside the first gap
    * in the built cell sizes that is wider than all the window's inserts
    * together: the first insert splits every cell above the gap, and no
    * cell below it can grow past the threshold, so every run splits at
    * the same insert. With no such gap no cell splits.
    */
  private def splitThreshold(dir: String): Long = {
    val sizes = spark.read.parquet(s"$dir/ann/index").groupBy("centroid_id")
      .count().collect().map(_.getLong(1)).sorted(Ordering[Long].reverse)
    val reach = s.churnInsert.toLong * s.churnRounds
    sizes.indices.init.find(i => sizes(i) - sizes(i + 1) > reach)
      .map(i => sizes(i + 1) + reach).getOrElse(sizes.head + reach)
  }

  private def deleteDir(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  // ---- routes ------------------------------------------------------- //

  private final class Ctx(val b: Built) {
    val store: VectorStore = b.store
    val model: Model = b.model
    val gen: Gen = b.gen
    val pool: Array[Array[Float]] = Array.fill(s.queryPool)(gen.query())
    val texts: Array[Seq[String]] = Array.fill(s.queryPool)(gen.queryText())
    def pick(): Int = gen.nextInt(s.queryPool)
  }

  private def checkExact(route: String, ctx: Ctx, q: Array[Float],
      got: Seq[(Long, Double)], tol: Double): Unit = {
    val truth = ctx.model.topK(q, s.k)
    check(got.map(_._1) == truth.map(_._1).toSeq,
      s"$route: ids ${got.map(_._1)} != brute force ${truth.map(_._1).toSeq}")
    got.zip(truth).foreach { case ((_, d), (_, td)) =>
      check(math.abs(d - td) <= tol * math.max(1.0, td),
        s"$route: distance $d != brute force $td")
    }
  }

  /** Approximate routes: every hit must be live, carry its true float32
    * distance and pass `keep`; recall@k is recorded against brute force.
    */
  private def checkApprox(route: String, ctx: Ctx, q: Array[Float],
      got: Seq[(Long, Double)], keep: Long => Boolean = _ => true): Unit = {
    got.foreach { case (id, d) =>
      check(ctx.model.isLive(id) && keep(id), s"$route: bad hit $id")
      if (ctx.model.isLive(id)) {
        val td = Model.l2(ctx.model.row(id).vec, q)
        check(math.abs(d - td) <= 1e-5 * math.max(1.0, td),
          s"$route: distance $d for id $id, true $td")
      }
    }
    check(got.map(_._1).distinct.size == got.size, s"$route: duplicate ids")
    recall(route, Model.recall(got.map(_._1), ctx.model.topK(q, s.k, keep)
      .map(_._1).toSeq))
  }

  private def exact(ctx: Ctx, name: String): Unit = {
    val q = ctx.pool(ctx.pick())
    op(name)(ctx.store.search(Seq(q), s.k)).foreach { r =>
      checkExact(name, ctx, q, r.head.map(h => (h.id, h.distance.toDouble)),
        0.0)
    }
  }

  private def ivf(ctx: Ctx, name: String = "ivf"): Unit = {
    val q = ctx.pool(ctx.pick())
    op(name)(ctx.store.searchApprox(Seq(q), s.k, s.nProbe)).foreach { r =>
      checkApprox(name, ctx, q, r.head.map(h => (h.id, h.distance.toDouble)))
    }
  }

  private def filtered(ctx: Ctx): Unit = {
    val q = ctx.pool(ctx.pick())
    val tag = ctx.gen.nextInt(s.tags)
    op("filtered")(ctx.store.searchApproxWhere(Seq(q), s.k, s.nProbe,
      Seq("tag"), Seq(s"t$tag"))).foreach { r =>
      val keep = (id: Long) => ctx.model.row(id).tag == tag
      checkApprox("filtered", ctx, q,
        r.head.map(h => (h.id, h.distance.toDouble)), keep)
    }
  }

  private def hybrid(ctx: Ctx): Unit = {
    val i = ctx.pick()
    op("hybrid")(ctx.store.searchHybrid(Seq(ctx.pool(i)),
      Seq(ctx.texts(i).mkString(" ")), s.k, shortlist = s.shortlist,
      nProbe = s.nProbe).collect()).foreach { rows =>
      val ranked = rows.map(r => (r.getAs[Long]("id"),
        r.getAs[Number]("rank").intValue, r.getAs[Double]("rrf")))
        .sortBy(_._2)
      check(ranked.nonEmpty && ranked.length <= s.k,
        s"hybrid: ${ranked.length} hits")
      check(ranked.map(_._2).toSeq == (1 to ranked.length),
        s"hybrid: ranks ${ranked.map(_._2).toSeq}")
      check(ranked.forall(h => ctx.model.isLive(h._1)), "hybrid: dead id")
      check(ranked.map(_._3).toSeq == ranked.map(_._3).sorted.reverse.toSeq,
        "hybrid: rrf not descending")
    }
  }

  private def batchQueries(ctx: Ctx, n: Int = s.batch)
      : (DataFrame, Array[Array[Float]]) = {
    val qs = Array.fill(n)(ctx.pool(ctx.pick()))
    (qs.toSeq.zipWithIndex.map { case (v, i) => (i, v) }.toDF("qid", "qvec"),
      qs)
  }

  private def batch(ctx: Ctx): Unit = {
    val (qdf, qs) = batchQueries(ctx)
    op("batch")(ctx.store.searchApproxDF(qdf, s.k, s.nProbe).collect())
      .foreach { rows =>
        val byQ = rows.groupBy(_.getAs[Number]("qid").intValue)
        check(byQ.size == qs.length, s"batch: ${byQ.size} of ${qs.length} answered")
        var rsum = 0.0
        qs.indices.foreach { i =>
          val hits = byQ.getOrElse(i, Array.empty).sortBy(_.getAs[Number]("rn").intValue)
            .map(r => (r.getAs[Long]("id"), r.getAs[Number]("distance").doubleValue))
          hits.foreach { case (id, _) =>
            check(ctx.model.isLive(id), s"batch: dead id $id") }
          rsum += Model.recall(hits.map(_._1).toSeq,
            ctx.model.topK(qs(i), s.k).map(_._1).toSeq)
        }
        recall("batch", rsum / qs.length)
      }
  }

  // ---- direct lower-layer calls (traced runs, after the window) ------- //

  private val direct = mutable.LinkedHashMap.empty[String, OpStats]

  /** A direct call into a lower layer, always traced. */
  private def directCall[A](name: String, layer: String)(body: => A)
      : Option[A] = call(direct, name, layer, traced = true)(body)

  private def directLayers(ctx: Ctx): Unit = {
    val i = ctx.pick()
    val q = ctx.pool(i)
    val qdf = Seq((0, q)).toDF("qid", "qvec")
    directCall("Ann.ivfSearchPruned", "Ann") {
      graft.operators.Ann.ivfSearchPruned(spark, s"${ctx.b.dir}/ann", "id",
        "vec", qdf, "qid", "qvec", s.k, s.nProbe).collect()
    }.foreach { rows =>
      // the direct probe sees no tombstone mask: recall only on live data
      if (!churn) recall("Ann.direct", Model.recall(
        rows.map(_.getAs[Long]("id")).toSeq,
        ctx.model.topK(q, s.k).map(_._1).toSeq))
    }
    directCall("LexIndex.search", "LexIndex") {
      graft.operators.LexIndex.search(spark, s"${ctx.b.dir}/lex",
        Seq((0L, ctx.texts(i))), s.k).collect()
    }
    directCall("Kernels.l2_distance", "Kernels") {
      ctx.store.toDF
        .select(graft.functions.l2_distance(col("vec"), typedLit(q)).as("d"))
        .agg(min(col("d"))).collect()
    }.foreach { r =>
      val want = ctx.model.topK(q, 1).head._2
      check(r.head.getFloat(0) == want, s"Kernels: top-1 ${r.head} != $want")
    }
  }

  /** Graph layer, traced serve-indexed runs only (one NN-Descent build
    * costs seconds, so the timed window never pays for it): build the
    * k-NN graph over the served store after the window, then time direct
    * `KnnGraphIndex.searchWithCost` batches against brute force.
    */
  private def graphLayer(ctx: Ctx): Unit = {
    directCall("KnnGraphIndex.build", "KnnGraphIndex")(
      ctx.store.buildKnnGraph(s.k, maxIters = 5))
    (0 until 2).foreach { _ =>
      val (qdf, qs) = batchQueries(ctx, s.graphBatch)
      directCall("KnnGraphIndex.searchWithCost", "KnnGraphIndex") {
        val (out, cost) = graft.operators.KnnGraphIndex.searchWithCost(
          spark, s"${ctx.b.dir}/graph", qdf, s.k, ef = 4 * s.k)
        (out.collect(), cost.collect())
      }.foreach { case (rows, cost) =>
        val byQ = rows.groupBy(_.getAs[Number]("qid").intValue)
        qs.indices.foreach { i =>
          val hits = byQ.getOrElse(i, Array.empty)
            .map(r => (r.getAs[Long]("id"), r.getAs[Number]("distance").doubleValue))
          checkApprox("graph", ctx, qs(i), hits.toSeq)
        }
        cost.foreach(r => graphScanned += r.getAs[Number]("scanned").doubleValue)
      }
    }
  }
  private val graphScanned = mutable.ArrayBuffer.empty[Double]

  // ---- writes (ingest-churn) ---------------------------------------- //

  private var inserted = 0L
  private var insertNs = 0L
  private var round = 0

  private def writes(ctx: Ctx): Unit = {
    val rows = ctx.gen.rows(s.churnInsert).toSeq
    val df = toDF(rows, 1)
    val t0 = System.nanoTime()
    val n = op("insert")(ctx.store.insertDF(df))
    n.foreach { got =>
      insertNs += System.nanoTime() - t0
      inserted += got
      check(got == rows.size, s"insert: $got of ${rows.size}")
      ctx.model.insert(rows)
      if (tracing) tracedUserBytes += userBytes(rows)
    }
    // random live ids below the live max, so no id is ever re-issued
    val maxLive = ctx.model.nextId - 1
    val victims = Iterator.continually(ctx.gen.nextInt(maxLive.toInt).toLong)
      .filter(ctx.model.isLive).take(s.churnDelete * 4).toSeq.distinct
      .take(s.churnDelete)
    op("delete")(ctx.store.delete(victims)).foreach { got =>
      check(got == victims.size, s"delete: $got of ${victims.size}")
      ctx.model.delete(victims)
    }
  }

  // ---- run ---------------------------------------------------------- //

  def run(): Int = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    tracer.foreach(_.install()); tracing = a.trace

    // Set up several times (setup_s takes the median), then warm the
    // routes, untimed but checked, before the first timed call.
    val repS = mutable.ArrayBuffer.empty[Double]
    val loadRate = mutable.ArrayBuffer.empty[Double]
    val loadS = mutable.ArrayBuffer.empty[Double]
    var built: Built = null
    (0 until s.setupReps).foreach { rep =>
      if (built != null) { deleteDir(built.dir); spark.catalog.clearCache() }
      val t0 = System.nanoTime()
      built = setUp(rep)
      repS += (System.nanoTime() - t0) / 1e9
      loadRate += s.rows / built.loadS
      loadS += built.loadS
    }
    val ctx = new Ctx(built)
    val warm0 = System.nanoTime()
    if (!churn) { filtered(ctx); hybrid(ctx); batch(ctx) }
    (0 until s.warmPairs).foreach { _ => exact(ctx, "exact"); ivf(ctx) }
    val warmS = (System.nanoTime() - warm0) / 1e9
    System.gc()
    ops.filterInPlace { case (n, _) => n == "load" }
    direct.clear(); recalls.clear()
    val setupS = sessionS + Stats.median(repS.toSeq) + warmS
    val nCells0 = if (a.trace && churn) ctx.store.annIndexStats().nCells else 0L

    // measured window: closed loop, one client. Exact and IVF reads
    // alternate, so each gated sample follows the same kind of call.
    // serve-indexed spends the last third of the window on the filtered,
    // hybrid and batch routes. ingest-churn opens the window with its
    // write rounds (insertDF, delete, the read-after-write search), so
    // every run holds the same writes, then reads the churned store
    // (pending tombstones, appended index rows, the split cell).
    val t0 = System.nanoTime()
    val windowNs = (a.seconds * 1e9).toLong
    def more = System.nanoTime() - t0 < windowNs
    def readPhase = System.nanoTime() - t0 < windowNs * 2 / 3
    def traceRound(): Unit = if (a.trace) {
      tracing = round % 2 == 1
      if (tracing) tracer.get.install() else tracer.get.uninstall()
    }
    if (churn) while (more && round < s.churnRounds) {
      traceRound()
      writes(ctx)
      if (more) exact(ctx, "read_after_write")
      round += 1
    }
    if (churn) {
      // the read phase starts from a store the routes have seen since
      // the last write: one untimed, checked call each
      tracing = false
      exact(ctx, "warm"); ivf(ctx, "warm"); ops.remove("warm")
    }
    var pairs = 0 // at least one pair, however slow the writes were
    while (pairs == 0 || (more && (churn || readPhase))) {
      traceRound()
      exact(ctx, "exact")
      ivf(ctx)
      round += 1
      pairs += 1
    }
    while (more) {
      traceRound()
      Seq(() => filtered(ctx), () => hybrid(ctx), () => batch(ctx))
        .foreach(f => if (more) f())
      round += 1
    }
    // after the window, traced runs time direct calls into the lower
    // layers (kept out of the window so traced and untraced rounds see the
    // same sequence of calls); ingest-churn then compacts once, timed as
    // maintenance, and the final checks read the compacted store
    if (a.trace) {
      tracer.get.install()
      (0 until s.directCalls).foreach(_ => directLayers(ctx))
    }
    if (churn) {
      tracing = a.trace
      if (a.trace) tracer.get.install()
      op("compact", "maintenance")(ctx.store.compact())
    } else if (a.trace) {
      // the graph phase costs tens of seconds; skip it (its metrics then
      // read 0) when the run is already slow, so it ends in time
      val runS = (System.currentTimeMillis() - jvmStart) / 1000.0
      if (runS < s.graphDeadlineS) { tracer.get.install(); graphLayer(ctx) }
      else System.err.println(f"perfbench: graph phase skipped at $runS%.0f s")
    }
    tracing = false

    // final checks, untimed
    finalChecks(ctx)
    val nCells1 = if (a.trace && churn) ctx.store.annIndexStats().nCells else 0L
    val space = {
      val p = new Path(ctx.b.dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength.toDouble / ctx.model.userBytes
    }
    tracer.foreach(_.uninstall())

    val timed = ops.view.filterKeys(_ != "load").values
    val attempted = timed.map(_.attempted).sum
    val failed = timed.map(_.failed).sum
    val p50 = (n: String) => Stats.median(ops.get(n).map(_.ms.toSeq).getOrElse(Nil))
    // serve-indexed: rows over the pooled load time of every set-up but
    // the first, whose JVM is still cold
    val warmLoads = if (loadS.size > 1) loadS.tail else loadS
    val ingest =
      if (churn) inserted / (insertNs / 1e9)
      else s.rows * warmLoads.size / warmLoads.sum
    val recallAt10 = Seq("ivf", "batch").flatMap(recalls.get)
      .map(r => Stats.mean(r.toSeq)).minOption.getOrElse(Double.NaN)
    val rssMb = vmHwmMb()

    // Every run prints every gated metric, so only metrics both workloads
    // measure are gated; the route-specific numbers ride along in the
    // report line.
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "exact_p50_ms" -> (p50("exact"), "ms"),
      "ivf_p50_ms" -> (p50("ivf"), "ms"),
      "ingest_rows_per_s" -> (ingest, "rows/s"),
      "recall_at_10" -> (recallAt10, "ratio"),
      "space_amp" -> (space, "ratio"),
      "rss_peak_mb" -> (rssMb, "MB"))
    val ungated = mutable.LinkedHashMap[String, (Double, String)](
      "filtered_p50_ms" -> (p50("filtered"), "ms"),
      "hybrid_p50_ms" -> (p50("hybrid"), "ms"),
      "batch_qps" -> (s.batch / (p50("batch") / 1000.0), "1/s"),
      "ivf_p95_ms" -> (Stats.quantile(ops.get("ivf").map(_.ms.toSeq)
        .getOrElse(Nil), 0.95), "ms"),
      "delete_p50_ms" -> (p50("delete"), "ms"),
      "read_after_write_p50_ms" -> (p50("read_after_write"), "ms"),
      "maintenance_s" -> (Stats.mean(ops.get("compact").map(_.ms.toSeq)
        .getOrElse(Nil)) / 1000.0, "s"),
      "filtered_recall_at_10" -> (recalls.get("filtered")
        .map(r => Stats.mean(r.toSeq)).getOrElse(Double.NaN), "ratio"))
      .filter { case (_, (v, _)) => !v.isNaN }

    // recall floors of the approximate routes
    Seq("ivf" -> 0.8, "batch" -> 0.8, "filtered" -> 0.5, "graph" -> 0.15).foreach {
      case (route, floor) => recalls.get(route).foreach { r =>
        val m = Stats.mean(r.toSeq)
        check(m >= floor, f"$route: mean recall@${s.k} $m%.3f below floor $floor")
      }
    }
    check(attempted > 0, "no timed call completed")

    val metrics =
      if (a.trace) perLayer(ctx, nCells1 - nCells0)
      else endToEnd
    metrics.foreach { case (n, (v, _)) => check(!v.isNaN, s"$n: no samples") }
    val spansFile = tracer.map { t =>
      val f = new java.io.File(a.workDir,
        s"spans/${a.workload}-seed${a.seed}.jsonl").getAbsolutePath
      t.writeSpans(f)
      f
    }
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "size" -> a.size, "rounds" -> round,
      "sizes" -> s.reasons.map { case (k, v, why) =>
        mutable.LinkedHashMap("name" -> k, "value" -> v.toString, "why" -> why) },
      "env" -> mutable.LinkedHashMap(
        "cores" -> Runtime.getRuntime.availableProcessors(),
        "master" -> spark.sparkContext.master,
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version,
        "source_hash" -> a.sourceHash,
        "flush_policy" -> ("Hadoop LocalFileSystem, no fsync; reads are " +
          "served from the OS page cache")),
      "setup" -> mutable.LinkedHashMap("session_s" -> sessionS,
        "rep_s" -> repS.toSeq, "warmup_s" -> warmS,
        "load_rows_per_s" -> loadRate.toSeq),
      "ops" -> ops.map { case (n, st) => n -> mutable.LinkedHashMap(
        "attempted" -> st.attempted, "failed" -> st.failed,
        "samples" -> st.ms.size, "p50_ms" -> Stats.median(st.ms.toSeq),
        "p95_ms" -> Stats.quantile(st.ms.toSeq, 0.95),
        "samples_ms" -> st.ms.map(x => math.round(x * 10) / 10.0).toSeq) },
      "direct" -> direct.map { case (n, st) => n -> mutable.LinkedHashMap(
        "attempted" -> st.attempted, "failed" -> st.failed,
        "p50_ms" -> Stats.median(st.ms.toSeq)) },
      "end_to_end" -> endToEnd.map { case (n, (v, u)) => n -> Seq(v, u) },
      "ungated" -> ungated.map { case (n, (v, u)) => n -> Seq(v, u) },
      "recall" -> recalls.map { case (n, r) => n -> Stats.mean(r.toSeq) },
      "spans_file" -> spansFile,
      "check_failures" -> failures.toSeq)
    println(Json(mutable.LinkedHashMap("report" -> report)))

    val correct = failures.isEmpty
    println(Json(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })))
    System.out.flush()
    if (correct) 0 else 1
  }

  // ---- final checks ------------------------------------------------- //

  private def finalChecks(ctx: Ctx): Unit = {
    // exact batch route, float64 distance buffer
    val (qdf, qs) = batchQueries(ctx)
    val rows = ctx.store.searchDF(qdf, s.k).collect()
    val byQ = rows.groupBy(_.getAs[Number]("qid").intValue)
    qs.indices.take(20).foreach { i =>
      val hits = byQ.getOrElse(i, Array.empty).sortBy(_.getAs[Number]("rn").intValue)
        .map(r => (r.getAs[Long]("id"), r.getAs[Number]("distance").doubleValue))
      checkExact("searchDF", ctx, qs(i), hits.toSeq, 1e-6)
    }
    // stored rows read back as written
    val sample = ctx.model.liveIds
    val ids = Seq.fill(20)(sample(ctx.gen.nextInt(sample.length))).distinct
    val back = ctx.store.selectIds(ids).map(r => r.id -> r).toMap
    ids.foreach { id =>
      val want = ctx.model.row(id)
      check(back.get(id).exists(r => r.vec.sameElements(want.vec) &&
        r.doc == want.doc), s"selectIds: row $id differs from what was inserted")
    }
    if (churn) {
      // a fresh handle sees exactly the model's rows
      val fresh = VectorStore.openOrCreate(spark, ctx.b.dir, s.dim,
        tombstoneDeletes = true)
      val live = ctx.model.liveIds
      check(fresh.count() == live.length,
        s"reopen: count ${fresh.count()} != model ${live.length}")
      val got = fresh.toDF.select("id").as[Long].collect().sorted
      check(got.distinct.length == got.length, "reopen: duplicate ids")
      check(got.sameElements(live), "reopen: id set differs from the model")
      (0 until 3).foreach { _ =>
        val q = ctx.pool(ctx.pick())
        val r = fresh.search(Seq(q), s.k).head
        checkExact("reopen search", ctx, q,
          r.map(h => (h.id, h.distance.toDouble)), 0.0)
      }
    } else check(ctx.store.count() == ctx.model.count,
      s"count ${ctx.store.count()} != model ${ctx.model.count}")
  }

  private def vmHwmMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    }
  }

  // ---- per-layer metrics (traced run) ------------------------------- //

  private def perLayer(ctx: Ctx, cellSplits: Long)
      : mutable.LinkedHashMap[String, (Double, String)] = {
    def reqs(names: String*) = names.flatMap(n => ops.get(n).toSeq.flatMap(_.reqs))
    def dreqs(n: String) = direct.get(n).toSeq.flatMap(_.reqs)
    // a layer the workload never called reads 0
    def med0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dms(n: String) = med0(direct.get(n).map(_.ms.toSeq).getOrElse(Nil))
    def meanOf(rs: Seq[ReqStats])(f: ReqStats => Double) =
      if (rs.isEmpty) 0.0 else Stats.mean(rs.map(f))
    val reads = reqs("exact", "ivf", "filtered", "hybrid")
    val api = reqs(ops.keys.toSeq: _*)
    val writesR = reqs("load", "insert", "delete")
    val selfMs = (r: ReqStats) => (r.end - r.start -
      Intervals.unionLength(r.jobIntervals.toSeq, r.start, r.end)).toDouble
    val annCand = meanOf(dreqs("Ann.ivfSearchPruned"))(_.inRecords.toDouble)
    val overhead = Seq("exact", "ivf", "filtered", "hybrid").flatMap(ops.get)
      .filter(st => st.tracedMs.nonEmpty && st.untracedMs.nonEmpty)
      .map(st => Stats.median(st.tracedMs.toSeq) - Stats.median(st.untracedMs.toSeq))
    val compacts = reqs("compact")
    mutable.LinkedHashMap[String, (Double, String)](
      "VectorStore.jobs_per_query" -> (meanOf(reads)(_.jobs.toDouble), "count"),
      "VectorStore.driver_self_ms" -> (med0(reads.map(selfMs)), "ms"),
      "VectorStore.ivf_wrap_ms" -> (med0(ops.get("ivf")
        .map(_.tracedMs.toSeq).getOrElse(Nil)) - dms("Ann.ivfSearchPruned"), "ms"),
      "VectorStore.jobs_per_write" -> (meanOf(writesR)(_.jobs.toDouble), "count"),
      "Kernels.rows_scored_per_query" ->
        (meanOf(reqs("exact"))(_.inRecords.toDouble), "count"),
      "Kernels.scan_ms" -> (dms("Kernels.l2_distance"), "ms"),
      "StorageLayer.bytes_read_per_query" -> (meanOf(reads)(_.inBytes.toDouble), "bytes"),
      "StorageLayer.files_read_per_query" -> (meanOf(reads)(_.filesRead.toDouble), "count"),
      "StorageLayer.write_amp" -> (writesR.map(_.outBytes).sum.toDouble /
        math.max(1L, tracedUserBytes), "ratio"),
      "StorageLayer.files_per_write" -> (meanOf(writesR)(_.filesWritten.toDouble), "count"),
      "Ann.search_ms" -> (dms("Ann.ivfSearchPruned"), "ms"),
      "Ann.candidates_per_query" -> (annCand, "count"),
      "Ann.useful_ratio" -> (if (annCand > 0) s.k / annCand else 0.0, "ratio"),
      "Ann.recall_at_10" -> (recalls.get("Ann.direct").orElse(recalls.get("ivf"))
        .map(r => Stats.mean(r.toSeq)).getOrElse(0.0), "ratio"),
      "KnnGraphIndex.search_ms" -> (dms("KnnGraphIndex.searchWithCost"), "ms"),
      "KnnGraphIndex.jobs_per_batch" ->
        (meanOf(dreqs("KnnGraphIndex.searchWithCost"))(_.jobs.toDouble), "count"),
      "KnnGraphIndex.scanned_per_query" ->
        (if (graphScanned.isEmpty) 0.0 else Stats.mean(graphScanned.toSeq), "count"),
      "KnnGraphIndex.recall_at_10" -> (recalls.get("graph")
        .map(r => Stats.mean(r.toSeq)).getOrElse(0.0), "ratio"),
      "LexIndex.search_ms" -> (dms("LexIndex.search"), "ms"),
      "LexIndex.postings_read_per_query" ->
        (meanOf(dreqs("LexIndex.search"))(_.inRecords.toDouble), "count"),
      "spark.stages_per_op" -> (meanOf(api)(_.stages.toDouble), "count"),
      "spark.tasks_per_op" -> (meanOf(api)(_.tasks.toDouble), "count"),
      "spark.executor_cpu_ms_per_op" -> (meanOf(api)(_.cpuNs / 1e6), "ms"),
      "spark.gc_ms_per_op" -> (meanOf(api)(_.gcMs.toDouble), "ms"),
      "spark.shuffle_bytes_per_op" -> (meanOf(api)(_.shuffleBytes.toDouble), "bytes"),
      "spark.task_wait_ms" -> (med0(api.flatMap(_.taskWaits).map(_.toDouble)), "ms"),
      "spark.tasks_failed" -> (api.map(_.failedTasks).sum.toDouble, "count"),
      "spark.scheduler_self_ms_per_op" -> (meanOf(api)(r =>
        (Intervals.unionLength(r.jobIntervals.toSeq, r.start, r.end) -
          Intervals.unionLength(r.stageIntervals.toSeq, r.start, r.end)).toDouble), "ms"),
      "spark.stage_ms_per_op" -> (meanOf(api)(r =>
        Intervals.unionLength(r.stageIntervals.toSeq, r.start, r.end).toDouble), "ms"),
      "spark.job_tag_share" -> (api.map(_.taggedJobs).sum.toDouble /
        math.max(1, api.map(_.jobs).sum), "ratio"),
      "maintenance.compact_ms" -> (meanOf(compacts)(r => (r.end - r.start).toDouble), "ms"),
      "maintenance.compact_bytes_rewritten" -> (meanOf(compacts)(_.outBytes.toDouble), "bytes"),
      "maintenance.cell_splits" -> (cellSplits.toDouble, "count"),
      "trace.overhead_ms" -> (if (overhead.isEmpty) 0.0 else Stats.mean(overhead), "ms"))
  }
}
