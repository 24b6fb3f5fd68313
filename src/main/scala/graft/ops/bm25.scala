package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval (Robertson & Zaragoza 2009, the Okapi BM25
  * ranking function) — keyword top-k search over the corpus, the lexical
  * complement of the embedding ANN paths in [[Similarity]]/[[Pq]]: a
  * training-data pipeline uses it to audit a corpus ("which documents
  * match this benchmark query?"), to build retrieval eval sets, and as
  * the first stage of hybrid (lexical + vector) search.
  *
  * Index = two relations, both built with one explode + partial
  * aggregations:
  *
  *  - POSTINGS (idCol, word, tf, dl): term frequency per (doc, word) and
  *    the doc length — corpus-sized but narrow; at rest, bucket it by
  *    `word` so a query prunes to its terms' buckets;
  *  - DICTIONARY (word, df, idf_q): document frequency and the
  *    Lucene-variant idf ln(1 + (N − df + ½)/(df + ½)) quantized to
  *    integer MICRO-units at INDEX time (the [[Lm]] doctrine: the ln runs
  *    once per dictionary row, scoring never touches a transcendental),
  *    plus ONE stats row (word NULL) carrying df = n_docs and
  *    idf_q = Σ dl — everything scoring needs.
  *
  * Scoring joins the (tiny, broadcast) query slice of the dictionary to
  * the postings and evaluates, per matched (doc, term),
  *
  *   floor( idf_q · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) )
  *
  * — integers in, one IEEE-exact (+,·,/) double expression, floored back
  * to integers, so scores are bit-reproducible across engines (DuckDB
  * replays the arithmetic over the staged dictionary integers; only the
  * idf ln itself is staged). Per-doc sum is a partial agg; top-k is
  * TakeOrderedAndProject (per-partition heaps, no global sort).
  *
  * Reference semantics: qetch has no search surface (SURVEY.md §0); this
  * extends §2C's training-data additions. */
object Bm25 {

  val DefaultK1 = 1.2
  val DefaultB = 0.75

  /** Postings relation (idCol, word, tf, dl) over whitespace words: one
    * explode, one partial-agg count per (doc, word), doc length attached.
    * NULL-text docs are absent (explode drops them). */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(col(idCol),
      size(split(col(textCol), " ")).cast("bigint").as("dl"),
      explode(split(col(textCol), " ")).as("word"))
    words.groupBy(col(idCol), col("word"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col(idCol), col("word"), col("tf"), col("dl"))
  }

  /** Dictionary relation (word, df, idf_q) from a [[postings]] relation,
    * with the single stats row (word NULL, df = n_docs, idf_q = Σ dl).
    * idf_q = floor(ln(1 + (N − df + ½)/(df + ½))·10⁶) — the Lucene BM25
    * idf, always ≥ 0. The two ln-free aggregates (df, doc stats) are the
    * oracle-checkable half; the ln runs once per dictionary row here and
    * never at query time. */
  def dictionary(post: DataFrame, idCol: String): DataFrame = {
    // two consumers (doc stats, df rows) — materialize the postings
    // lineage once instead of re-running the corpus explode + groupBy per
    // aggregate. Callers serving queries should likewise persist the
    // postings (write to parquet, bucketed by word) rather than re-derive
    // them per search — the index is built once, probed many times.
    val p = graft.Pin(post)
    val docStats = p.select(col(idCol), col("dl")).distinct()
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")).head()
    val n = docStats.getLong(0)
    require(n > 0, "Bm25.dictionary: empty postings — no documents to index")
    val sumdl = docStats.getLong(1)
    val dfRel = p.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val idf = floor(log(lit(1.0) +
      (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      lit(1e6)).cast("bigint")
    dfRel.select(col("word"), col("df"), idf.as("idf_q"))
      .unionByName(post.sparkSession.range(1).select(
        lit(null).cast("string").as("word"), lit(n).as("df"),
        lit(sumdl).as("idf_q")))
  }

  /** Word-hash sub-bucket for the at-rest postings layout:
    * pmod(xxhash64(word), n). Persist postings
    * `.withColumn("wb", wordBucket($"word", n)).write.partitionBy("wb")`;
    * [[bm25TopK]] with `wordBuckets = Some(n)` then partition-prunes the
    * postings scan to the query terms' buckets — the same layout contract
    * as the dedup index's `pruneBucket` (a query touches |terms| buckets
    * of corpus I/O, not the whole postings table). Layout-only: n never
    * affects scores, so the hash needs no cross-engine portability. */
  def wordBucket(wordCol: Column, n: Int): Column = {
    require(n >= 1, s"wordBucket count must be >= 1, got $n")
    pmod(xxhash64(wordCol), lit(n.toLong)).cast("int")
  }

  /** Top-k documents for a bag of query `terms`: (idCol, matched,
    * score_q) ranked by BM25 score descending, id ascending on ties.
    * The query slice of the dictionary broadcasts (≤ |terms| rows);
    * duplicate query terms count once (bag-of-words BM25 over distinct
    * terms, the standard form). `wordBuckets = Some(n)` requires `post`
    * to carry the [[wordBucket]] partition column `wb` (same n) and
    * restricts the scan to the terms' buckets — the bucket values are a
    * config-sized collect (one tiny job over |terms| rows). */
  def bm25TopK(post: DataFrame, dict: DataFrame, idCol: String,
      terms: Seq[String], k: Int,
      k1: Double = DefaultK1, b: Double = DefaultB,
      wordBuckets: Option[Int] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(terms.nonEmpty, "bm25TopK: empty query")
    val stats = dict.where(col("word").isNull)
      .select(col("df"), col("idf_q")).collect().headOption
      .getOrElse(sys.error(
        "bm25TopK: dictionary has no word-IS-NULL stats row — not a " +
          "Bm25.dictionary relation (was it filtered or projected?)"))
    val avgdl = stats.getLong(1).toDouble / stats.getLong(0)
    val spark = post.sparkSession
    import spark.implicits._
    val qdict = dict.join(
      broadcast(terms.distinct.toDF("word")), "word")
      .select(col("word"), col("idf_q"))
    val scanned = wordBuckets match {
      case Some(n) =>
        val bs = terms.distinct.toDF("word")
          .select(wordBucket(col("word"), n).as("wb"))
          .collect().map(_.getInt(0)).distinct.toSeq
        post.where(col("wb").isin(bs: _*))
      case None => post
    }
    val termScore = floor(
      col("idf_q").cast("double") *
        (col("tf").cast("double") * lit(k1 + 1.0)) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl))))
      .cast("bigint")
    scanned.join(broadcast(qdict), "word")
      .select(col(idCol), termScore.as("__s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("matched"), sum(col("__s")).as("score_q"))
      .orderBy(col("score_q").desc, col(idCol).asc)
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    * merge per-query ranked lists from heterogeneous retrievers (BM25 +
    * an ANN path is THE hybrid-search composition; any number of lists
    * works) into one ranking without comparing their incomparable scores:
    * only RANKS cross the boundary.
    *
    * Each input list carries (queryCol, docCol, rankCol) with rank ≥ 1
    * and at most one row per (query, doc) — exactly what a top-k emits.
    * A doc's fused score is Σ over the lists that returned it of
    * floor(10⁹ / (kRrf + rank)) — the RRF 1/(k₀+rank) term scaled to
    * integers at the one floor, so fused scores are bit-reproducible
    * across engines (the [[Lm]] doctrine). Output: (queryCol, docCol,
    * rrf_q, lists_hit, rn ≤ k), ties → smaller doc.
    *
    * Scale shape: the inputs are top-k lists (|queries| × k rows — tiny
    * relative to any corpus; the corpus-sized work already happened
    * inside each retriever), so the union + partial-agg sum is cheap and
    * the per-query window ranks at most #lists × k candidates — bounded
    * by construction, never by data volume. */
  def rrfFuse(lists: Seq[DataFrame], queryCol: String, docCol: String,
      rankCol: String, k: Int, kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no input lists")
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    val contrib = expr(
      s"cast(1000000000 as bigint) div " +
        s"(cast($kRrf as bigint) + cast(`$rankCol` as bigint))")
    val u = lists.map(_.select(col(queryCol), col(docCol), contrib.as("__c")))
      .reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryCol)).orderBy(col("rrf_q").desc, col(docCol).asc)
    u.groupBy(col(queryCol), col(docCol))
      .agg(sum(col("__c")).as("rrf_q"), count(lit(1)).as("lists_hit"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
  }
}
