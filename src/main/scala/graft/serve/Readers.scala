package graft.serve

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Serving-read layer — the reference's `GamesReader` semantics
  * (src/warehouse/readers/games.py, SURVEY §3.3):
  *
  *   - point lookup on the serving table (games.py:241-250)
  *   - precomputed top-k neighbors (games.py:177-185)
  *   - live tuned similarity with a metric allow-list
  *     (games.py:188-225, allow-list :131-135)
  *
  * Two-tier design as in the reference: the default path hits the
  * precomputed neighbors table; only "tuned" requests pay for a live
  * scan. Point reads are lookups in two immutable `vec_id` maps,
  * collected once per `Readers` (per pinned version) on the first
  * point read, so they run no Spark job; a live-only reader (k14)
  * never builds them. Spark serves only `similarLive` and search.
  */
final class Readers(spark: SparkSession, profiles: DataFrame,
    neighbors: DataFrame, embeddings: DataFrame,
    postings: Option[DataFrame] = None) {

  GraftFunctions.register(spark)

  private val emb = embeddings.cache()
  private val post = postings.map(_.cache())

  // built once under the instance lock; a failed build throws in the
  // request that triggered it and is retried by the next
  private lazy val profileIndex = Readers.index(profiles, "profiles")
  private lazy val neighborIndex = Readers.index(neighbors, "neighbors")

  val AllowedMetrics: Set[String] = Set("COSINE", "EUCLIDEAN", "DOT_PRODUCT")

  /** `SELECT * FROM profile WHERE id = @id LIMIT 1` (S4). */
  def profile(id: Long): Option[Row] = profileIndex.get(id)

  /** Precomputed neighbor list for the default profile. */
  def similarPrecomputed(id: Long): Option[Row] = neighborIndex.get(id)

  /** The composed `GET /games/{id}` document (games.py:253-289): the
    * profile row plus its precomputed neighbor list (empty when the
    * id has no neighbors row).
    */
  def document(id: Long): Option[Map[String, Any]] =
    profile(id).map { row =>
      val similar = similarPrecomputed(id)
        .map(r => r.getSeq[Row](r.fieldIndex("similar")))
        .getOrElse(Seq.empty)
      row.schema.fieldNames.zip(row.toSeq).toMap + ("similar" -> similar)
    }

  /** Live tuned similarity — filter first, then rank (the reference's
    * measured "filter-first" discipline, games.py:198-199): broadcast
    * the query vector, scan once, TakeOrderedAndProject top-k.
    */
  def similarLive(id: Long, metric: String = "COSINE", k: Int = 10): DataFrame = {
    require(AllowedMetrics.contains(metric), s"metric $metric not allowed")
    val q = emb.filter(col("vec_id") === id)
      .select(col("v").as("qv"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= id)
      .select(col("vec_id"),
        expr(s"vector_distance(v, qv, '$metric')").as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Conjunctive term search — t37's inverted index as a serving
    * route: read ONLY the query terms' postings (the `tb` prefix
    * filter prunes to the terms' partitions when the index is the
    * stored partitioned table) and intersect with one keyed count.
    * Bounded collect: at most `limit` doc ids.
    */
  def search(terms: Seq[String], limit: Int = 20): Seq[Long] = {
    val p = post.getOrElse(sys.error("search index not configured"))
    val t = terms.map(_.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty).distinct
    if (t.isEmpty) Seq.empty
    else p.filter(col("tb").isin(t.map(_.substring(0, 1)).distinct: _*) &&
        col("term").isin(t: _*))
      // postings are positional (duplicates per occurrence) — the
      // conjunctive intersection counts DISTINCT matched terms
      .groupBy("doc_id").agg(countDistinct(col("term")).as("nt"))
      .filter(col("nt") === t.size)
      .orderBy("doc_id").limit(limit)
      .collect().map(_.getLong(0)).toSeq
  }

  /** Exact-PHRASE search — t40's anchor aggregate as a serving
    * route: the (term, offset) phrase spec broadcasts into the
    * prefix-pruned postings, each posting votes anchor = pos −
    * offset, and one keyed aggregate keeps docs where some anchor
    * collected every offset. Word order and adjacency are exact;
    * plan depth is independent of phrase length. Bounded collect.
    */
  def searchPhrase(words: Seq[String], limit: Int = 20): Seq[Long] = {
    val p = post.getOrElse(sys.error("search index not configured"))
    val w = words.map(_.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
    if (w.isEmpty) Seq.empty
    else graft.operators.Postings.phraseMatch(p, w)
      .orderBy("doc_id").limit(limit)
      .collect().map(_.getLong(0)).toSeq
  }

  def hasSearch: Boolean = post.nonEmpty

  /** Drop the serving caches. A long-lived server keeps them hot; a
    * transient reader (the k14 catalog query, a bench pass) must not
    * leave cached blocks squatting on executor storage after it is
    * done. Unpersisting never-materialized caches is a no-op, and
    * plans already derived from the frames stay valid (they just read
    * the source again).
    */
  def close(): Unit = {
    emb.unpersist()
    post.foreach(_.unpersist()): Unit
  }
}

object Readers {
  /** `df`'s rows by `vec_id` (null keys are unreachable, so dropped).
    * A repeated key fails: a point read must not pick a row at random.
    */
  private def index(df: DataFrame, table: String): Map[Long, Row] = {
    val k = df.schema.fieldIndex("vec_id")
    df.collect().iterator.filterNot(_.isNullAt(k)).foldLeft(Map.empty[Long, Row]) { (m, r) =>
      val id = r.getLong(k)
      if (m.contains(id)) throw new IllegalStateException(
        s"$table: duplicate vec_id $id; a point read needs one row per key")
      m.updated(id, r)
    }
  }

  /** Build the serving tables from the embeddings source table. */
  def build(spark: SparkSession, sfDir: String, k: Int = 10): Readers = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("v", expr("transform(embedding, x_ -> double(x_))"))
      .select("vec_id", "label", "v")
    // POSITIONAL postings (t40's index shape — every occurrence keeps
    // its token position, so the one table serves both conjunctive
    // AND phrase queries); in production this is the stored
    // term-partitioned index table
    val postings = graft.operators.Postings.positional(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text"))
    new Readers(spark, emb.select("vec_id", "label"),
      Neighbors.precompute(emb, k), emb, Some(postings))
  }
}
