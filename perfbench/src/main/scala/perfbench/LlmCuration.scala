package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, Tables}
import graft.text.{MinHashLSH, NearDup, PrefixFilterJoin, Search}
import graft.vector.KMeansIvf

/** `llm-curation`: repeated full passes of the curation pipeline over the
  * generated `documents` and `embeddings`. One cycle is one pass, each
  * stage timed as its own operation:
  *
  *  - `lsh`: MinHash signatures and LSH candidates, then exact
  *    verification (`NearDup.verifyPairs`);
  *  - `components`: Jaccard pairs and the connected-components fixpoint
  *    (`NearDup.duplicateComponents`);
  *  - `prefix_jaccard`, `containment`: `PrefixFilterJoin` pair joins;
  *  - `search`: `Search.hybridRrfBatch` over a seeded batch of queries;
  *  - `ivf_train`, `ivf_pairs`: `KMeansIvf.train`, then `assign` and
  *    `dupPairsFromClusters`.
  *
  * No stage commits. Exact stages compare with DuckDB (the gates'
  * oracles). LSH pairs must be a subset of DuckDB's exact pairs with equal
  * Jaccard values and miss at most one in twenty of them (a pair at the
  * 0.8 threshold escapes all 16 bands with probability 2e-4). The
  * centroids must equal Lloyd's iterations recomputed outside Spark; every
  * cluster assignment is recomputed too; the IVF pairs must be exactly
  * DuckDB's brute-force cosine pairs whose two vectors share a cluster
  * (pairs within 1e-6 of the threshold may go either way). */
final class LlmCuration(ctx: Ctx) extends Workload {
  import ctx.spark

  val NumHashes = 64
  val Bands = 16
  val Clusters = 8
  val CosThreshold = 0.95
  val Queries = 6
  val Dims = 64
  val Iters = 3

  private val rnd = new scala.util.Random(ctx.seed)
  private val vocab = ("a agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark " +
    "stream table the value vector window").split(' ').toSeq
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var expected: Map[String, Seq[String]] = Map.empty
  private var exactPairs: Set[String] = Set.empty
  private var cosPairs: Map[(Long, Long), Double] = Map.empty
  private var wantCentroids: Array[Array[Double]] = _
  private var searchQueries: Seq[(Long, Seq[String], Long)] = Nil
  private var candidates, verified, dupPairs, passes = 0L

  def build(dir: Path): Unit = {
    docs = Tables.load(spark, ctx.dataDir, "documents")
    emb = Tables.load(spark, ctx.dataDir, "embeddings").select("vec_id", "embedding")
    val nVec = emb.count()
    searchQueries = (1 to Queries).map { q =>
      (q.toLong, Seq.fill(3)(vocab(rnd.nextInt(vocab.size))), rnd.nextInt(nVec.toInt).toLong)
    }
  }

  /** q147's oracle with this run's query batch in place of its own. */
  private def searchOracle: String = {
    val base = SparkEntry.oracleSql("q147_rrf_batch")
    val qt = searchQueries.flatMap { case (q, ts, _) => ts.distinct.map(t => s"($q, '$t')") }
      .mkString(", ")
    val qv = searchQueries.map { case (q, _, v) => s"($q, $v)" }.mkString(", ")
    val out = base
      .replaceFirst("(?s)qt\\(query_id, token\\) AS \\(VALUES.*?\\)\\),",
        java.util.regex.Matcher.quoteReplacement(s"qt(query_id, token) AS (VALUES $qt),"))
      .replaceFirst("(?s)qv\\(query_id, q_vec_id\\) AS \\(VALUES.*?\\)\\),",
        java.util.regex.Matcher.quoteReplacement(s"qv(query_id, q_vec_id) AS (VALUES $qv),"))
    require(out != base && out.contains(qv), "q147 oracle shape changed")
    out
  }

  def oracleRequests: Map[String, String] = Map(
    "components" -> SparkEntry.oracleSql("q44_dup_components"),
    "prefix_jaccard" -> SparkEntry.oracleSql("q102_prefix_jaccard"),
    "containment" -> SparkEntry.oracleSql("q124_containment"),
    "search" -> searchOracle,
    "cosine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, list_cosine_similarity(a.v, b.v) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= ${CosThreshold - 1e-6}""".stripMargin)

  def useOracle(rows: Map[String, Seq[String]]): Unit = {
    expected = rows
    exactPairs = rows("prefix_jaccard").toSet
    cosPairs = spark.read.parquet(ctx.run.resolve("oracle/cosine.parquet").toString)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    require(exactPairs.nonEmpty && cosPairs.nonEmpty, "the inputs hold no near-duplicates")
    wantCentroids = lloyd(emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
  }

  /** `KMeansIvf.train` outside Spark: the first `Clusters` vectors by id
    * as seeds, then `Iters` rounds of nearest-centroid assignment and
    * per-cluster means (an empty cluster keeps its centroid). */
  private def lloyd(vs: Array[(Long, Array[Float])]): Array[Array[Double]] = {
    var cs = vs.sortBy(_._1).take(Clusters).map(_._2.map(_.toDouble))
    for (_ <- 0 until Iters) {
      val sums = Array.fill(Clusters, Dims)(0.0)
      val n = new Array[Long](Clusters)
      vs.foreach { case (_, v) =>
        val c = nearest(v, cs)
        n(c) += 1
        for (j <- 0 until Dims) sums(c)(j) += v(j)
      }
      cs = Array.tabulate(Clusters)(i => if (n(i) == 0) cs(i) else sums(i).map(_ / n(i)))
    }
    cs
  }

  def cycleSeconds: Double = 10.0

  /** One pass: the first pays for JIT and code generation (20–27 s on a
    * 4-core host); over ten seeds the second and third passes took the
    * same time (median ratio 0.99) with the same spread. */
  def warm(rec: Recorder): Unit = cycle(rec)

  private def stage[T](rec: Recorder, name: String, span: String)(call: => T)(
      check: T => Unit): Unit = {
    rec.op("curate", name)(ctx.tracer.span(span)(call))(check)
    ()
  }

  def cycle(rec: Recorder): Unit = {
    val tr = ctx.tracer
    val traced = tr.enabled
    passes += (if (traced) 1 else 0)

    stage(rec, "lsh", "text.neardup") {
      val sig = MinHashLSH.signatures(docs, "doc_id", "text", 3, NumHashes)
      val cands = MinHashLSH.candidatePairs(sig, NumHashes, Bands).localCheckpoint()
      (cands, NearDup.verifyPairs(docs, "doc_id", "text", 3, cands, 0.8).collect())
    } { case (cands, rows) =>
      val got = Canon.rows(rows.toSeq)
      val extra = got.filterNot(exactPairs)
      Stats.expect(extra.isEmpty, s"LSH pairs not in the exact set: ${extra.take(3)}")
      val missed = exactPairs.size - got.toSet.size
      Stats.expect(missed <= math.max(1, exactPairs.size / 20),
        s"LSH found ${got.toSet.size} of ${exactPairs.size} exact pairs")
      if (traced) { candidates += cands.count(); verified += rows.length }
    }

    stage(rec, "components", "text.components")(NearDup.duplicateComponents(
      NearDup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8,
        maxShingleFreq = 100)).collect()) { rows =>
      Canon.expectSame(Canon.rows(rows.toSeq), expected("components"), "components") }

    stage(rec, "prefix_jaccard", "text.prefix_join")(PrefixFilterJoin.jaccardPairs(
      docs, "doc_id", "text", n = 3, threshold = 0.8).collect()) { rows =>
      Canon.expectSame(Canon.rows(rows.toSeq), expected("prefix_jaccard"), "prefix_jaccard") }

    stage(rec, "containment", "text.prefix_join")(PrefixFilterJoin.containmentPairs(
      docs, "doc_id", "text", n = 3, threshold = 0.9).collect()) { rows =>
      Canon.expectSame(Canon.rows(rows.toSeq), expected("containment"), "containment") }

    stage(rec, "search", "text.search")(Search.hybridRrfBatch(docs,
      Tables.load(spark, ctx.dataDir, "embeddings"), "doc_id", "text", "vec_id",
      "embedding", searchQueries).collect()) { rows =>
      Canon.expectSame(Canon.rows(rows.toSeq), expected("search"), "search") }

    var centroids: Array[Array[Double]] = null
    stage(rec, "ivf_train", "vector.ivf_train")(KMeansIvf.train(emb, "vec_id",
      "embedding", k = Clusters, dims = Dims, iters = Iters)) { c =>
      Stats.expect(c.length == Clusters && c.indices.forall(i => c(i).length == Dims &&
        c(i).indices.forall(j => math.abs(c(i)(j) - wantCentroids(i)(j)) < 1e-9)),
        "centroids differ from Lloyd's iterations recomputed outside Spark")
      centroids = c
    }
    if (centroids != null)
      stage(rec, "ivf_pairs", "vector.ivf_pairs") {
        val asg = KMeansIvf.assign(emb, "embedding", centroids)
        (asg.select("vec_id", "embedding", "cluster").collect(),
          KMeansIvf.dupPairsFromClusters(asg, "vec_id", "embedding",
            threshold = CosThreshold, salt = 4).collect())
      } { case (assigned, pairs) =>
        assigned.foreach { r => Stats.expectEq(r.getInt(2),
          nearest(r.getSeq[Float](1).toArray, centroids), s"cluster of ${r.getLong(0)}") }
        val got = pairs.map { r =>
          val key = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
          val want = cosPairs.getOrElse(key,
            throw new AssertionError(s"IVF pair $key below the cosine threshold"))
          Stats.expect(math.abs(want - r.getAs[Double]("cos")) < 1e-6,
            s"IVF pair $key cos ${r.getAs[Double]("cos")} vs $want")
          key
        }.toSet
        val cluster = assigned.map(r => r.getLong(0) -> r.getInt(2)).toMap
        val missed = cosPairs.collect { case ((a, b), cos)
          if cos >= CosThreshold + 1e-6 && cluster(a) == cluster(b) && !got((a, b)) => (a, b) }
        Stats.expect(missed.isEmpty,
          s"IVF missed ${missed.size} same-cluster cosine pairs: ${missed.take(3)}")
        if (traced) dupPairs += pairs.length
      }
  }

  /** Nearest centroid by squared distance, first index on ties. */
  private def nearest(v: Array[Float], cs: Array[Array[Double]]): Int =
    cs.indices.minBy { i =>
      var d = 0.0
      var j = 0
      while (j < v.length) { val x = v(j) - cs(i)(j); d += x * x; j += 1 }
      d
    }

  def layerMetrics(rec: Recorder, traced: Seq[Sample]): Map[String, Double] = {
    val p = math.max(passes, 1).toDouble
    // an untraced pass is seven consecutive untraced stage samples
    val passSeconds = rec.samples.filterNot(_.traced).grouped(7)
      .filter(_.size == 7).map(_.map(_.seconds).sum).toSeq
    Map(
      "text.candidate_pairs" -> candidates / p,
      "text.verified_pairs" -> verified / p,
      "text.pair_yield" -> (if (candidates > 0) verified.toDouble / candidates else 0.0),
      "vector.dup_pairs" -> dupPairs / p,
      "ops.curation_pass_s" -> (if (passSeconds.isEmpty) 0.0 else Stats.median(passSeconds)))
  }
}
