package graft.perfbench

import graft.functions.{GraftFunctions, WindowHashesExpr}
import graft.operators.{ConnectedComponents, InvertedIndex, IvfIndex}
import graft.queries.PipelineQueries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** pipeline: the LLM-data operators over a generated corpus. Setup builds
  * the BM25 index (`InvertedIndex.build`) and the IVF index
  * (`IvfIndex.build`). A timed unit is one iteration: a near-duplicate
  * dedup pass over a seeded document sample (`PipelineQueries.q25MinhashLsh`:
  * tokenize, shingle, MinHash band signatures, candidate pairs, Jaccard
  * verify; then `ConnectedComponents.run`) followed by seeded BM25 and ANN
  * searches. Dedup clusters are compared with the benchmark's exact
  * all-pairs answer, BM25 top-k with a brute-force scorer, and ANN results
  * with exact cosine similarities and a recall floor against the exact top
  * 10 ([[RecallFloor]] per search, [[MeanRecallFloor]] over the run).
  */
final class Pipeline(run: Run) extends Workload {
  import Pipeline._

  private val spark = run.spark
  import spark.implicits._

  private val vocab = Gen.vocabulary(run.seed, Vocab)
  private val docs = Gen.corpus(run.seed, Docs, vocab)
  private val vecs = Gen.vectors(run.seed, Vectors, Dim)
  /** Per-document tokens, the brute-force BM25 scorer's view of the corpus. */
  private val tokens: Map[Long, Array[String]] = docs.map { case (id, t) => id -> tokenize(t) }.toMap

  private var bm25: InvertedIndex = _
  private var ivf: IvfIndex = _
  private val bm25BuildMs = ArrayBuffer.empty[Double]
  private val ivfBuildMs = ArrayBuffer.empty[Double]

  private var docsDeduped = 0L
  private var firstClusters: Option[(Vector[Long], Set[Set[Long]])] = None

  // traced-unit instruments
  private val verified = ArrayBuffer.empty[Double]
  private val searchExchanges = ArrayBuffer.empty[Double]
  private val bucketShare = ArrayBuffer.empty[Double]
  private val clusterShare = ArrayBuffer.empty[Double]
  /** Recall@10 of every ANN search of the timed phase. */
  private val recall = ArrayBuffer.empty[Double]
  private val planSaved = mutable.Set.empty[String]

  def setup(rep: Int): Unit = {
    GraftFunctions.register(spark)
    val dir = run.work.resolve(s"pipeline/r$rep")
    val docsDf = docs.toDF("doc_id", "text")
    val vecDf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("vec_id", "v")
    val t0 = System.nanoTime()
    bm25 = InvertedIndex.build(spark, docsDf, dir.resolve("bm25").toString, nbuckets = Lists)
    val t1 = System.nanoTime()
    ivf = IvfIndex.build(spark, vecDf, dir.resolve("ivf").toString, nlist = Lists)
    val t2 = System.nanoTime()
    bm25BuildMs += (t1 - t0) / 1e6
    ivfBuildMs += (t2 - t1) / 1e6
    if (rep > 0) KvServe.deleteTree(run.work.resolve(s"pipeline/r${rep - 1}"))
  }

  /** [[WarmUpIterations]] full iterations, so the timed units run compiled code. */
  def warmUp(): Unit = (1 to WarmUpIterations).foreach { i =>
    iteration(Gen.pipeIteration(run.seed, -i, Docs, Sample, Searches, vocab, vecs), s"warm$i")
  }

  def unit(index: Int): Unit = {
    val it = Gen.pipeIteration(run.seed, index, Docs, Sample, Searches, vocab, vecs)
    val clusters = iteration(it, s"u$index")
    if (firstClusters.isEmpty) firstClusters = Some((it.sample, clusters))
  }

  private def iteration(it: Gen.PipeIter, pass: String): Set[Set[Long]] = {
    val clusters = dedup(it.sample, pass)
    it.bm25.zip(it.ann).foreach { case (terms, q) =>
      searchBm25(terms)
      searchAnn(q)
    }
    clusters
  }

  /** One dedup pass through the engine's public dedup query: the sample is
    * written where `PipelineQueries` reads its corpus, `q25MinhashLsh`
    * returns the verified near-duplicate pairs, and
    * `ConnectedComponents.run` groups them. Returns the non-singleton
    * clusters.
    */
  private def dedup(sample: Vector[Long], pass: String): Set[Set[Long]] = {
    val traced = run.timing && run.trace.on
    val dir = run.work.resolve(s"pipeline/dedup-$pass").toString
    val sampleDocs = sample.map(id => (id, docs(id.toInt)._2)).toDF("doc_id", "text")
    sampleDocs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    if (traced) tokenizeProbe(dir)
    val (nEdges, comps) = run.op("dedup", read = false) {
      val edges = run.trace("queries", "q25_minhash_lsh") {
        PipelineQueries.q25MinhashLsh(spark, dir).collect()
      }
      val cc = run.trace("operators", "cc") {
        ConnectedComponents.run(edges.toSeq.map(r => (r.getLong(0), r.getLong(1))).toDF("u", "v"))
          .collect()
      }
      (edges.length, cc)
    }
    KvServe.deleteTree(java.nio.file.Paths.get(dir))
    if (run.timing) docsDeduped += sample.size
    if (traced) verified += nEdges
    val got = comps.groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).toSet).toSet
    val want = exactClusters(sample)
    run.check(got == want, s"dedup clusters: ${got.size} found, ${want.size} expected")
    got
  }

  /** The functions layer on its own, in traced units only: the fused
    * shingle-hash and MinHash band-signature expressions that q25 runs,
    * over the same sample (not part of the timed dedup op).
    */
  private def tokenizeProbe(dir: String): Unit = run.trace("functions", "tokenize") {
    spark.read.parquet(s"$dir/documents.parquet")
      .select(call_function("minhash_band_sigs", shingleHashes(split(col("text"), " "))).as("s"))
      .agg(sum(size(col("s")))).collect()
  }

  private def searchBm25(terms: Vector[String]): Unit = {
    val traced = run.timing && run.trace.on
    val (df, rows) = run.op("bm25", read = true) {
      run.trace("operators", "bm25_search") {
        val df = bm25.search(terms, K)
        (df, df.collect())
      }
    }
    val got = rows.map(r => (r.getLong(1), r.getLong(3))).toSeq
    run.check(bm25Agrees(terms, got), s"bm25 $terms: $got")
    if (traced) {
      val (planned, total) = bm25.lastPruning
      bucketShare += Stats.ratio(planned, total)
      searchPlan("bm25", df)
    }
  }

  private def searchAnn(q: Array[Double]): Unit = {
    val traced = run.timing && run.trace.on
    val qdf = Seq((0L, q.toSeq)).toDF("qid", "qv")
    val (df, rows) = run.op("ann", read = true) {
      run.trace("operators", "ann_search") {
        val df = ivf.search(qdf, K, IvfIndex.autoNprobe(Lists), excludeSelf = false)
        (df, df.collect())
      }
    }
    val got = rows.map(r => (r.getLong(2), r.getDouble(3))).toSeq
    val exactOk = got.forall { case (id, s) => s == r6(cosine(q, vecs(id.toInt))) } &&
      got.map(_._2) == got.map(_._2).sortBy(-_)
    val exact = vecs.indices.map(i => (i.toLong, r6(cosine(q, vecs(i)))))
      .sortBy { case (i, s) => (-s, i) }.take(K).map(_._1).toSet
    val rc = got.count(g => exact.contains(g._1)).toDouble / K
    if (run.timing) recall += rc
    run.check(exactOk && got.size == K && rc >= RecallFloor, s"ann (recall@$K $rc): $got")
    if (traced) {
      val (planned, total) = ivf.lastPruning
      clusterShare += Stats.ratio(planned, total)
      searchPlan("ann", df)
    }
  }

  private def searchPlan(cls: String, df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    searchExchanges += Plans.exchanges(plan)
    if (planSaved.add(cls))
      run.save(s"plans/${run.workload}-s${run.seed}/$cls.txt",
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
  }

  /** The index's top k agrees with brute-force BM25 over the corpus: every
    * returned score matches the document's exact score, and the k-th score
    * matches the exact k-th score (ties may order either way).
    */
  private def bm25Agrees(terms: Seq[String], got: Seq[(Long, Long)]): Boolean = {
    val exact = bruteBm25(terms)
    val tol = terms.size.toLong // one micro-unit of rounding per term
    val want = exact.toSeq.sortBy { case (d, s) => (-s, d) }.take(K)
    got.size == want.size &&
      got.forall { case (d, s) => exact.get(d).exists(e => math.abs(e - s) <= tol) } &&
      (got.isEmpty || math.abs(got.last._2 - want.last._2) <= tol)
  }

  private lazy val corpusStats: (Long, Long, Long, Map[String, Int]) = {
    val dl = tokens.values.map(_.length.toLong)
    val df = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    tokens.values.foreach(_.distinct.foreach(t => df(t) += 1))
    (tokens.size.toLong, dl.count(_ > 0).toLong, dl.sum, df.toMap)
  }

  /** BM25 micro-unit scores with the index's formula and rounding. */
  private def bruteBm25(terms: Seq[String]): Map[Long, Long] = {
    val (nDocs, nDlDocs, totalDl, dfs) = corpusStats
    val avgdl = totalDl.toDouble / nDlDocs.toDouble
    val (k1, b) = (1.2, 0.75)
    val out = mutable.HashMap.empty[Long, Long]
    tokens.foreach { case (doc, ws) =>
      terms.distinct.foreach { t =>
        val tf = ws.count(_ == t)
        if (tf > 0) {
          val df = dfs(t).toDouble
          val idf = StrictMath.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
          val denom = tf + k1 * (1.0 - b + b * ws.length / avgdl)
          val c = math.floor(idf * (tf * (k1 + 1.0)) / denom * 1e6 + 0.5).toLong
          out(doc) = out.getOrElse(doc, 0L) + c
        }
      }
    }
    out.toMap
  }

  /** Non-singleton clusters of the sample under exact word-5-shingle
    * Jaccard >= 0.8 over space-separated words (q25's tokens), from the
    * benchmark's own shingles and union-find.
    */
  private def exactClusters(sample: Vector[Long]): Set[Set[Long]] = {
    val sh = sample.map(id => id -> shingles(docs(id.toInt)._2.split(" "))).toMap
    val byShingle = mutable.HashMap.empty[String, ArrayBuffer[Long]]
    sh.foreach { case (id, ss) => ss.foreach(s => byShingle.getOrElseUpdate(s, ArrayBuffer.empty) += id) }
    val parent = mutable.HashMap.from(sample.map(id => id -> id))
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    val pairs = byShingle.values.flatMap(ds => for (a <- ds; b <- ds if a < b) yield (a, b)).toSet
    pairs.foreach { case (a, b) =>
      val inter = sh(a).count(sh(b).contains).toDouble
      if (inter / (sh(a).size + sh(b).size - inter) >= 0.8) parent(find(a)) = find(b)
    }
    sample.groupBy(find).values.map(_.toSet).filter(_.size > 1).toSet
  }

  /** Dedup is stable: the first timed sample, deduped again, gives the
    * same clusters. The run's mean ANN recall stays above its floor.
    */
  def verify(): Unit = {
    firstClusters.foreach { case (sample, clusters) =>
      val again = dedup(sample, "again")
      run.check(again == clusters, s"dedup unstable across passes: ${clusters.size} vs ${again.size}")
    }
    run.check(Stats.mean(recall) >= MeanRecallFloor, s"mean ANN recall@$K ${Stats.mean(recall)}")
  }

  override def env: Seq[(String, Any)] =
    Seq("ann_recall_min" -> recall.minOption.getOrElse(0.0), "ann_recall_mean" -> Stats.mean(recall))

  def bulkRowsPerSec: Double = Stats.ratio(docsDeduped, run.samples("dedup").sum / 1e3)

  def layerMetrics(): Map[String, Double] = Map(
    "functions.tokenize_ms" -> Stats.median(run.trace.durationsMs("functions", "tokenize")),
    "queries.q25_ms" -> Stats.median(run.trace.durationsMs("queries", "q25_minhash_lsh")),
    "operators.verified_edges" -> Stats.mean(verified),
    "operators.cc_ms" -> Stats.median(run.trace.durationsMs("operators", "cc")),
    "operators.bm25_build_ms" -> Stats.median(bm25BuildMs),
    "operators.ivf_build_ms" -> Stats.median(ivfBuildMs),
    "operators.bm25_search_ms_p50" -> Stats.median(run.trace.durationsMs("operators", "bm25_search")),
    "operators.ann_search_ms_p50" -> Stats.median(run.trace.durationsMs("operators", "ann_search")),
    "operators.bm25_bucket_share" -> Stats.mean(bucketShare),
    "operators.ann_cluster_share" -> Stats.mean(clusterShare),
    "operators.ann_recall_at_10" -> Stats.mean(recall),
    "plans.exchanges_per_search" -> Stats.mean(searchExchanges))

  def close(): Unit = KvServe.deleteTree(run.work.resolve("pipeline"))
}

object Pipeline {
  /** Sized on the sf0.1 test data: as many words as its 5,000 documents of
    * about 54 words (here 2,500 of about 110, so one replaced word leaves a
    * copy well above the 0.8 Jaccard threshold), and its 2,000 embeddings
    * of dimension 64.
    */
  val Vocab = 4000
  val Docs = 2500
  val Vectors = 2000
  val Dim = 64
  /** BM25 buckets and IVF lists: the auto-sized value for this corpus. */
  val Lists = 8
  /** Documents per dedup pass. */
  val Sample = 1000
  /** Iterations run before timing: search latencies keep falling through
    * the first few as the JIT compiles the search paths.
    */
  val WarmUpIterations = 4
  /** BM25 searches and ANN searches per iteration. */
  val Searches = 2
  val K = 10
  /** Lowest recall@10 a single ANN search may have. In this benchmark's
    * first runs (about 30 seeds, nprobe 3 of 8 lists) the lowest recall of a
    * search was 0.9 and the lowest mean of a run 0.9875; the floors allow
    * two missed neighbours in a search and a run mean of 0.95.
    */
  val RecallFloor = 0.8
  /** Lowest mean recall@10 over a run's timed ANN searches. */
  val MeanRecallFloor = 0.95

  /** The latin corpus tokenizer: lowercase, split on non-letters, keep >= 3 letters. */
  def tokenize(text: String): Array[String] =
    text.toLowerCase.split("[^a-z]+").filter(_.length >= 3)

  /** Distinct word 5-shingles (one shingle of every word when shorter). */
  def shingles(ws: Array[String]): Set[String] =
    if (ws.length < 5) Set(ws.mkString(" "))
    else ws.sliding(5).map(_.mkString(" ")).toSet

  /** Per-document distinct 5-shingle hashes of a token array through the
    * engine's fused expression (the one q25 uses).
    */
  def shingleHashes(tokens: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_distinct(ColumnBridge.column(WindowHashesExpr(
      ColumnBridge.expression(tokens), 5, atLeastOne = true)))

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def r6(x: Double): Double = Gen.round6(x)
}
