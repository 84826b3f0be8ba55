package perfbench

import scala.collection.mutable

/** Workload sizes. Every number is recorded in the run's report line
  * together with the reason it was chosen.
  */
final case class Sizes(
    rows: Int, dim: Int, clusters: Int, zipfS: Double, cells: Int,
    nProbe: Int, k: Int, loadBatches: Int, vocab: Int, wordsPerDoc: Int,
    tags: Int, queryPool: Int, batch: Int, graphBatch: Int,
    graphDeadlineS: Int, shortlist: Int,
    churnInsert: Int, churnDelete: Int, churnRounds: Int,
    setupReps: Int, warmPairs: Int, directCalls: Int) {

  def reasons: Seq[(String, Any, String)] = Seq(
    ("rows", rows, "large enough that a scan is not free, small enough " +
      "that three set-ups and the measured window fit one run"),
    ("dim", dim, "a small embedding width; the cached (id, vec) " +
      "projection stays far below Spark storage memory"),
    ("clusters", clusters, "Zipf-weighted Gaussian clusters, so IVF " +
      "cells have uneven sizes and hot cells exist"),
    ("zipf_s", zipfS, "skew of cluster sizes, query cluster choice and " +
      "word frequency; queries follow the corpus skew"),
    ("cells", cells, "IVF cells = clusters, so probes hit real structure"),
    ("n_probe", nProbe, "fixed probe count; recall stays above the floor"),
    ("k", k, "top-k of every search route"),
    ("load_batches", loadBatches, "the corpus is loaded through insertDF " +
      "in this many micro-batches; their wall time gives ingest rows/s"),
    ("vocab", vocab, "Zipf vocabulary of the text field the lex index " +
      "and the hybrid route read"),
    ("words_per_doc", wordsPerDoc, "text length per doc"),
    ("tags", tags, "the filtered routes match one tag value, about " +
      s"${"%.1f".format(100.0 / tags)}% of rows"),
    ("query_pool", queryPool, "distinct query vectors drawn per seed"),
    ("batch", batch, "queries per batch call"),
    ("graph_batch", graphBatch, "queries per direct graph search in the " +
      "traced serve-indexed run; the graph is built after the window"),
    ("graph_deadline_s", graphDeadlineS, "the traced run skips the graph " +
      "phase when it has already run this long, so it ends in time"),
    ("shortlist", shortlist, "hybrid dense and lexical shortlist size"),
    ("churn_insert", churnInsert, "rows per insertDF round on ingest-churn; " +
      "a streaming-sized micro-batch"),
    ("churn_delete", churnDelete, "ids per delete round on ingest-churn"),
    ("churn_rounds", churnRounds, "write rounds that open each " +
      "ingest-churn window; exact and IVF reads fill the rest"),
    ("setup_reps", setupReps, "set-ups per run; setup_s takes their median"),
    ("warm_pairs", warmPairs, "untimed exact and IVF calls after set-up, " +
      "so the window starts warm"),
    ("direct_calls", directCalls, "direct lower-layer calls per layer " +
      "after the window of a traced run; their median is reported"))
}

object Sizes {
  val full = Sizes(rows = 20000, dim = 32, clusters = 32, zipfS = 1.1,
    cells = 32, nProbe = 3, k = 10, loadBatches = 2, vocab = 2000,
    wordsPerDoc = 8, tags = 20, queryPool = 256, batch = 100,
    graphBatch = 10, graphDeadlineS = 75, shortlist = 50,
    churnInsert = 50, churnDelete = 50, churnRounds = 3,
    setupReps = 3, warmPairs = 3, directCalls = 5)
  /** For the smoke test only: every route runs, nothing is measured. */
  val tiny = Sizes(rows = 1200, dim = 8, clusters = 8, zipfS = 1.1,
    cells = 8, nProbe = 3, k = 5, loadBatches = 2, vocab = 200,
    wordsPerDoc = 6, tags = 10, queryPool = 32, batch = 10,
    graphBatch = 4, graphDeadlineS = 90, shortlist = 20,
    churnInsert = 40, churnDelete = 10, churnRounds = 2,
    setupReps = 1, warmPairs = 1, directCalls = 1)
}

/** One generated record. `tag` is the filter field, `text` the lex field. */
final case class Rec(vec: Array[Float], tag: Int, text: Array[String]) {
  def doc: String =
    s"""{"tag": "t$tag", "text": "${text.mkString(" ")}"}"""
}

/** Seeded input generator. The program only ever sees what this makes:
  * vectors, JSON docs and queries.
  */
final class Gen(seed: Long, s: Sizes) {
  private val rnd = new java.util.Random(seed)
  private val centers = Array.fill(s.clusters, s.dim)(
    (rnd.nextGaussian() * 1.0).toFloat)
  private def cumZipf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s.zipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  private val clusterCum = cumZipf(s.clusters)
  private val wordCum = cumZipf(s.vocab)
  private def draw(cum: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cum.length - 1)
  }
  private def near(c: Int): Array[Float] =
    Array.tabulate(s.dim)(d => centers(c)(d) + rnd.nextGaussian().toFloat)
  private def word(): String = s"w${draw(wordCum)}"

  def row(): Rec = Rec(near(draw(clusterCum)), rnd.nextInt(s.tags),
    Array.fill(s.wordsPerDoc)(word()))
  def rows(n: Int): Array[Rec] = Array.fill(n)(row())
  def query(): Array[Float] = near(draw(clusterCum))
  def queryText(): Seq[String] = Seq.fill(2)(word()).distinct
  def nextInt(n: Int): Int = rnd.nextInt(n)
}

/** The benchmark's own in-memory model of the store: the reference
  * semantics (contiguous ids, holes never reused while the max id is
  * live) and float32 brute-force L2, ties toward the lower id.
  */
final class Model(dim: Int) {
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val rowsById = mutable.ArrayBuffer.empty[Rec]
  private val alive = new java.util.BitSet()
  private var live = 0

  def nextId: Long = vecs.size.toLong
  def count: Int = live
  def isLive(id: Long): Boolean = alive.get(id.toInt)
  def row(id: Long): Rec = rowsById(id.toInt)
  def liveIds: Array[Long] = {
    val out = new Array[Long](live)
    var i = alive.nextSetBit(0); var j = 0
    while (i >= 0) { out(j) = i.toLong; j += 1; i = alive.nextSetBit(i + 1) }
    out
  }
  def insert(rs: Seq[Rec]): Unit = rs.foreach { r =>
    alive.set(vecs.size); vecs += r.vec; rowsById += r; live += 1
  }
  def delete(ids: Seq[Long]): Unit = ids.foreach { id =>
    if (alive.get(id.toInt)) { alive.clear(id.toInt); live -= 1 }
  }
  def userBytes: Long = liveIds.iterator
    .map(id => 4L * dim + rowsById(id.toInt).doc.getBytes("UTF-8").length)
    .sum

  /** Top-k (id, distance) among live rows passing `keep`. */
  def topK(q: Array[Float], k: Int, keep: Long => Boolean = _ => true)
      : Array[(Long, Float)] = {
    val heap = mutable.PriorityQueue.empty[(Float, Long)] // max-heap
    var i = alive.nextSetBit(0)
    while (i >= 0) {
      if (keep(i.toLong)) {
        val d = Model.l2(vecs(i), q)
        if (heap.size < k) heap.enqueue((d, i.toLong))
        else {
          val (hd, hid) = heap.head
          if (d < hd || (d == hd && i < hid)) {
            heap.dequeue(); heap.enqueue((d, i.toLong))
          }
        }
      }
      i = alive.nextSetBit(i + 1)
    }
    heap.dequeueAll[(Float, Long)].reverse.map(t => (t._2, t._1)).toArray
  }
}

object Model {
  /** float32 accumulation then a double sqrt, as the engine's kernel. */
  def l2(a: Array[Float], b: Array[Float]): Float = {
    var s = 0f; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s.toDouble).toFloat
  }

  def recall(got: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0
    else got.toSet.intersect(truth.toSet).size.toDouble / truth.size
}

/** Minimal JSON writer for the report and result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
