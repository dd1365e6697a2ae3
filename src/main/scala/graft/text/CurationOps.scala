package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data assembly: deterministic
  * stratified sampling and token-budget sequence packing. Both are pure
  * integer pipelines with textually-mirrored DuckDB oracles.
  *
  * Scale notes (100 TB):
  *  - sampling is a map-only filter against a broadcast rate table — it
  *    fuses into the scan's WholeStageCodegen and prunes rows BEFORE any
  *    downstream shuffle;
  *  - packing is a distributed prefix sum (two-pass scan): a per-bucket
  *    window partial, one bounded P-row collect of bucket totals, and a
  *    broadcast join of cumulative offsets — never a single-partition
  *    global window, which would serialize the whole corpus through one
  *    task. */
object CurationOps {

  /** Deterministic md5-derived ordering key on doc_id — the shared
    * primitive of hash-bucket sampling and per-domain capping: reproducible
    * run-over-run, engine-over-engine, and stable under repartitioning
    * (the property production pipelines need from a sampling key: adding
    * data never changes whether an existing document is kept). */
  def hashKey: Column = graft.dedup.DedupOps.md5Key(col("doc_id").cast("string"))
  def hashKeySql: String = graft.dedup.DedupOps.md5KeySql("CAST(doc_id AS VARCHAR)")

  /** Deterministic hash bucket in [0, mod) keyed on doc_id. */
  def hashBucket(mod: Int): Column = hashKey % mod
  def hashBucketSql(mod: Int): String = s"$hashKeySql % $mod"

  /** Per-language keep-rates (percent) for the stratified sample: a
    * down/up-weighting profile of the kind pretraining mixes use. */
  val DefaultRates: Seq[(String, Int)] =
    Seq("en" -> 80, "zh" -> 50, "es" -> 40, "de" -> 30, "fr" -> 20)

  /** Stratified deterministic sample: keep a document iff its hash bucket
    * falls under its language's rate. The rate table rides a broadcast
    * join (a 5-row dimension — the idiomatic Spark shape, and the oracle
    * mirrors it as a VALUES join). Languages absent from the table are
    * dropped (inner join = rate 0). */
  def stratifiedSample(docs: DataFrame,
                       rates: Seq[(String, Int)] = DefaultRates,
                       mod: Int = 100): DataFrame = {
    val spark = docs.sparkSession
    val rateDf = spark.createDataFrame(rates).toDF("lang", "rate")
    docs.select(col("doc_id"), col("lang"), hashBucket(mod).as("bucket"))
      .join(broadcast(rateDf), "lang")
      .filter(col("bucket") < col("rate"))
      .select("doc_id", "lang", "bucket")
  }

  def stratifiedSampleSql(table: String,
                          rates: Seq[(String, Int)] = DefaultRates,
                          mod: Int = 100): String = {
    val vals = rates.map { case (l, r) => s"('$l', $r)" }.mkString(", ")
    s"""WITH rates(lang, rate) AS (VALUES $vals),
       |b AS (SELECT doc_id, lang, ${hashBucketSql(mod)} AS bucket FROM $table)
       |SELECT doc_id, b.lang, bucket
       |FROM b JOIN rates ON b.lang = rates.lang
       |WHERE bucket < rate
       |ORDER BY doc_id""".stripMargin
  }

  /** Token-budget sequence packing (the pretraining concat-and-chunk
    * model): documents are concatenated in doc_id order into one global
    * token stream, which is cut into fixed-`budget` chunks; each document
    * reports the chunk span it lands in. Token counts are the engine's
    * BPE-ish regex counts ([[TextOps.tokenCounts]]).
    *
    * The global running offset is a distributed scan, NOT a global
    * window: documents are bucketed by a deterministic doc_id stride
    * (contiguous ranges, so bucket-local order + bucket offsets compose
    * to the global order), each bucket computes its local prefix sum in
    * parallel, bucket totals (exactly `buckets` rows) are collected and
    * cumulated on the driver, and the per-bucket base offsets rejoin via
    * broadcast. Documents with zero tokens are excluded on both sides
    * (they occupy no stream span — and their chunk arithmetic would hit
    * engine-divergent negative floor division). */
  def packSequences(docs: DataFrame, budget: Int = 512,
                    buckets: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    // r6: persist the (doc_id, n_tokens) longs — this subtree (a full
    // regexp tokenization pass over the corpus) is executed by the maxId
    // action, the bucket-totals collect AND the final query; without the
    // persist it tokenized the corpus three times (guide §5: cache only
    // what is reused and expensive to recompute — two longs per document).
    // The blocks stay cached after the query until someone unpersists them.
    val toks = TextOps.tokenCounts(docs)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .persist()
    val maxIdRow = toks.agg(max("doc_id")).head()
    // empty stream (no docs, or all zero-token): empty packing, same schema
    if (maxIdRow.isNullAt(0))
      return toks.select(col("doc_id"), col("n_tokens"),
        lit(0L).as("tok_start"), lit(0L).as("chunk_first"),
        lit(0L).as("chunk_last"), lit(0L).as("n_chunks"))
    val maxId = maxIdRow.getLong(0)
    val span = maxId / buckets + 1
    val bucketed = toks.withColumn("bkt", expr(s"doc_id div $span"))
    val w = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed.withColumn("local_cum", sum("n_tokens").over(w))
    // bounded collect: exactly one row per non-empty bucket
    val totals = bucketed.groupBy("bkt").agg(sum("n_tokens").as("tot"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val bases = totals.map { case (b, t) => val r = (b, acc); acc += t; r }
    val baseDf = spark.createDataFrame(bases.toSeq).toDF("bkt", "base")
    local.join(broadcast(baseDf), "bkt")
      .withColumn("cum", col("base") + col("local_cum"))
      .select(col("doc_id"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("tok_start"),
        expr(s"(cum - n_tokens) div $budget").as("chunk_first"),
        expr(s"(cum - 1) div $budget").as("chunk_last"),
        (expr(s"(cum - 1) div $budget") -
          expr(s"(cum - n_tokens) div $budget") + 1).as("n_chunks"))
  }

  /** Shared per-document token cap for the repetition metrics — like
    * [[graft.dedup.DedupOps.MaxWindowOff]], a constant that must bind
    * IDENTICALLY in the Spark pipeline and the SQL mirror (the mirror
    * enumerates positions from a constant series, so an "ample" constant
    * that Spark doesn't also apply would silently diverge on long docs). */
  val MaxDocTokens = 4096

  /** Within-document repetition metrics — the Gopher/MassiveText class of
    * repetition quality filters (Rae et al. 2021, arXiv:2112.11446,
    * App. A1.1), word-level: duplicate-token fraction and most-frequent-
    * bigram mass. Exact integer counts; the two fractions are single IEEE
    * divisions of exact integers (bit-identical across engines).
    *
    * Scale shape (100 TB): tokens explode map-only from the scan; all
    * downstream work is two map-side-combinable hash aggregates plus one
    * per-document window (lead) — everything keyed on doc_id, so AQE plans
    * one doc_id shuffle reused across the window and both aggregates;
    * nothing global, nothing quadratic. */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        posexplode(slice(TextOps.tokens(col("text")), 1, MaxDocTokens))
          .as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val tokStats = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("tok").as("n_distinct"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bg = toks.withColumn("nxt", lead("tok", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("bg"))
    val bgStats = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(sum("cnt").as("n_bigrams"), max("cnt").as("top_bigram"))
    tokStats.join(bgStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram"), lit(0L)).as("top_bigram"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("top_bigram").cast("double") / col("n_bigrams"))
          .as("top_bigram_frac"))
  }

  /** DuckDB mirror of [[repetitionMetrics]] — positions from a constant
    * series bounded by the SAME [[MaxDocTokens]] cap Spark applies. */
  def repetitionMetricsSql(table: String): String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '${TextOps.WsClass}') AS toks
       |  FROM $table),
       |tok AS (SELECT doc_id, o.o AS pos, toks[o.o + 1] AS tok
       |  FROM t, generate_series(0, ${MaxDocTokens - 1}) o(o)
       |  WHERE o.o < LEAST(len(toks), $MaxDocTokens) AND toks[o.o + 1] <> ''),
       |ts AS (SELECT doc_id, count(*) AS n_tokens,
       |    count(DISTINCT tok) AS n_distinct FROM tok GROUP BY 1),
       |bgp AS (SELECT doc_id, pos, tok,
       |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM tok),
       |bgc AS (SELECT doc_id, tok || ' ' || nxt AS bg, count(*) AS cnt
       |  FROM bgp WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |bs AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       |    max(cnt) AS top_bigram FROM bgc GROUP BY 1)
       |SELECT ts.doc_id, n_tokens, n_distinct,
       |  CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
       |  COALESCE(n_bigrams, 0) AS n_bigrams,
       |  COALESCE(top_bigram, 0) AS top_bigram,
       |  CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0.0
       |       ELSE CAST(top_bigram AS DOUBLE) / n_bigrams END AS top_bigram_frac
       |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
       |ORDER BY ts.doc_id""".stripMargin

  /** Per-domain document cap: keep at most `cap` documents per source,
    * chosen by the deterministic [[hashKey]] order (doc_id tie-break) — the
    * domain-balancing step of web-corpus curation (cf. the per-domain
    * down-weighting in C4/MassiveText-style pipelines): no single crawled
    * host may dominate the mix, and the kept set is stable as the crawl
    * grows.
    *
    * Scale shape (100 TB): declared as `row_number over (partition by
    * source) <= cap`, which Spark 4 rewrites to WindowGroupLimit — a
    * per-partition bounded top-`cap` BEFORE the shuffle, then a bounded
    * merge per key after it — so a skewed giant domain never sorts its full
    * row set; map-side output is at most `cap` rows per (partition, source)
    * (asserted by the plan audit). */
  def domainCap(docs: DataFrame, cap: Int = 50): DataFrame = {
    val w = Window.partitionBy("source").orderBy(hashKey.asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
  }

  def domainCapSql(table: String, cap: Int = 50): String =
    s"""WITH r AS (SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY $hashKeySql, doc_id) AS rk
       |  FROM $table)
       |SELECT doc_id, source, rk FROM r WHERE rk <= $cap
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[packSequences]]: the same stream arithmetic stated
    * as one cumulative window (the oracle need not be distributed). */
  def packSequencesSql(table: String, budget: Int = 512): String =
    s"""WITH t AS (SELECT doc_id,
       |    len(regexp_extract_all(text, '${TextOps.BpeTokenRegex}')) AS n_tokens
       |  FROM $table),
       |w AS (SELECT doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM t WHERE n_tokens > 0)
       |SELECT doc_id, n_tokens, cum - n_tokens AS tok_start,
       |  (cum - n_tokens) // $budget AS chunk_first,
       |  (cum - 1) // $budget AS chunk_last,
       |  (cum - 1) // $budget - (cum - n_tokens) // $budget + 1 AS n_chunks
       |FROM w ORDER BY doc_id""".stripMargin
}
