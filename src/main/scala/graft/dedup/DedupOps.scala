package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact (fingerprint
  * group-by), MinHash+LSH banding, SimHash hamming pairs, character-n-gram
  * Jaccard. All formulated as explode -> equi-join/aggregate pipelines with
  * map-side partial aggregation — the shapes that survive 10^12 documents —
  * and each with a textually-mirrored DuckDB oracle.
  *
  * Hash functions are md5-derived (first 8/15 hex chars -> BIGINT) so both
  * engines compute bit-identical values. */
object DedupOps {

  /** THE cross-engine hash primitive: first 8 md5 hex chars of the operand
    * as a BIGINT. Every derived key in the engine (shingles, simhash,
    * substring windows, sampling/ordering keys) goes through this one
    * (Column, SQL-text) pair so the Spark/DuckDB equivalence —
    * `conv(substring(md5(x),1,8),16,10)` == `('0x'||substr(md5(x),1,8))::
    * BIGINT` — is asserted in exactly one place.
    * The operand contract is a STRING (DuckDB md5 takes VARCHAR): md5Key
    * stringifies defensively so a non-string Column hashes its decimal
    * text — the same bytes `md5KeySql("CAST(x AS VARCHAR)")` sees — never
    * its raw binary encoding. */
  def md5Key(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 8), 16, 10).cast("long")
  def md5KeySql(e: String): String =
    s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** Raw (multiset) trigram hashes as (doc_id, sh_hash) rows — one md5 per
    * window position, duplicates included (map-only from the scan). */
  def shingleHashesRaw(docs: DataFrame, n: Int = 3): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), TextOps.WsClass, " "))
    docs.select(col("doc_id"), norm.as("t"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), greatest(lit(1), length(col("t")) - (n - 1))),
          i => col("t").substr(i, lit(n)))).as("sh"))
      .select(col("doc_id"), md5Key(col("sh")).as("sh_hash"))
  }

  /** trigram set as (doc_id, sh_hash) rows; sh_hash = first 8 md5 hex chars
    * as BIGINT. Distinct per doc. */
  def shingleHashes(docs: DataFrame, n: Int = 3): DataFrame =
    shingleHashesRaw(docs, n).distinct()

  def shingleHashesSql(table: String, n: Int = 3): String =
    s"""SELECT DISTINCT doc_id,
       |  ${md5KeySql("sh")} AS sh_hash
       |FROM (
       |  SELECT doc_id, unnest([substr(t, i, $n)
       |           FOR i IN generate_series(1, greatest(1, length(t) - ${n - 1}))]) AS sh
       |  FROM (SELECT doc_id, lower(regexp_replace(trim(text), '${TextOps.WsClass}', ' ', 'g')) AS t
       |        FROM $table))""".stripMargin

  // ---- exact dedup ---------------------------------------------------------

  /** Exact dedup groups on the normalized-text fingerprint: one row per
    * distinct content, keeper = min doc_id, n_dups = group size. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_docs"))

  def exactGroupsSql(table: String): String =
    s"""SELECT ${TextOps.fingerprintSql("text")} AS fp,
       |  min(doc_id) AS keeper, count(*) AS n_docs
       |FROM $table GROUP BY 1 ORDER BY fp""".stripMargin

  // ---- n-gram Jaccard ------------------------------------------------------

  /** Near-dup pairs by exact trigram-set Jaccard >= threshold. Candidate
    * generation is the shingle equi-join (pairs sharing >= 1 shingle),
    * intersection counted per pair, set sizes joined back in. */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // cached: both join sides and the sizes aggregate read it; the blocks
    // stay cached after the query until someone unpersists them
    val sh = shingleHashes(docs).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b, col("a.sh_hash") === col("b.sh_hash") &&
                          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
  }

  def jaccardPairsSql(table: String, threshold: Double): String =
    s"""WITH sh AS (${shingleHashesSql(table)}),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
       |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       |           JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- MinHash + LSH -------------------------------------------------------

  val MinhashP = 2147483647L // 2^31 - 1
  def hashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (2L * i + 3L, 104729L * (i + 1) + 7L))

  def minhashSignaturesSql(table: String, k: Int): String = {
    val params = hashParams(k).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""WITH sh AS (${shingleHashesSql(table)}),
       |params(k, ha, hb) AS (VALUES $params)
       |SELECT doc_id, k, min((ha * sh_hash + hb) % $MinhashP) AS mh
       |FROM sh, params GROUP BY 1, 2""".stripMargin
  }

  /** LSH banding: band signature = ordered concat of the band's minhashes;
    * candidate pairs = docs sharing any band bucket; verified by exact
    * trigram Jaccard >= threshold.
    *
    * r6 plan shape (values bit-identical to the r5 formulation, which the
    * unchanged DuckDB oracle still mirrors semantically):
    *  - the k minhashes come from ONE map-side-combinable groupBy(doc_id)
    *    with k `min` columns instead of a k-fold crossJoin + (doc_id, k)
    *    aggregate + a collect_list/array_sort band aggregate — two fewer
    *    exchanges and no k-times row blowup (guide §2.3/§2.4); the band
    *    signature concatenates the same longs in the same k order, so the
    *    signature STRINGS are identical;
    *  - the exact-Jaccard verify joins each candidate pair against per-doc
    *    sorted shingle ARRAYS and counts the intersection with the codegen
    *    array_intersect builtin, instead of a cands x shingles x shingles
    *    join whose per-shared-shingle rows (|pairs| * |A∩B|, ~1.6M at
    *    sf0.1) all flowed through one more exchange — shingle sets are
    *    distinct per doc, so size(array_intersect) IS the old count(*) and
    *    size(shs) IS the old per-doc size; the jaccard double divides the
    *    same integers. */
  def lshPairs(docs: DataFrame, k: Int = 16, bands: Int = 4,
               threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = k / bands
    val params = hashParams(k)
    // ONE pass over the corpus: per-doc DISTINCT sorted shingle-set arrays.
    // The global (doc_id, sh_hash) distinct exchange is gone — min over a
    // multiset equals min over its set (MinHash is duplicate-invariant) and
    // the per-doc dedup rides array_distinct inside the single aggregate.
    // persist(): the table has three consumers (banding + both verify join
    // sides); without it the md5-heavy shingle scan re-executes per
    // consumer when exchange reuse misses (observed: two identical scan
    // stages in the r5 plan). Scale note: this caches one array row per
    // document (bounded by document length), the standard LSH working set;
    // the blocks stay cached after the query until someone unpersists them.
    val docSh = shingleHashesRaw(docs).groupBy("doc_id")
      .agg(sort_array(array_distinct(collect_list(col("sh_hash")))).as("shs"))
      .persist()
    // minhashes map-side from the array (no k-fold crossJoin, no second
    // aggregate): mh_i = min over the SAME distinct hash set as before
    val mhCols = params.zipWithIndex.map { case ((ha, hb), i) =>
      array_min(transform(col("shs"), h => (lit(ha) * h + lit(hb)) % MinhashP)).as(s"mh$i")
    }
    val wide = docSh.select(col("doc_id") +: mhCols: _*)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(r =>
          col(s"mh${b * rowsPerBand + r}").cast("string")): _*).as("band_sig"))
    }
    val banded = wide
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_sig").as("band_sig"))
    val a = banded.as("a"); val b = banded.as("b")
    val cands = a.join(b, col("a.band") === col("b.band") &&
                          col("a.band_sig") === col("b.band_sig") &&
                          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify with exact jaccard computed over the CANDIDATE pairs only —
    // this (not a global all-pairs pass) is what makes LSH the scale path.
    // size(array_intersect) over distinct arrays IS the old per-shared-
    // shingle count(*), and size(shs) the old per-doc size — the jaccard
    // double divides the same integers (r6; oracle text unchanged).
    val inter = size(array_intersect(col("shs_a"), col("shs_b"))).cast("long")
    cands
      .join(docSh.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")), "doc_a")
      .join(docSh.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")), "doc_b")
      .withColumn("inter", inter)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("shs_a")).cast("long") + size(col("shs_b")).cast("long") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  def lshPairsSql(table: String, k: Int = 16, bands: Int = 4,
                  threshold: Double = 0.5): String = {
    val rowsPerBand = k / bands
    s"""WITH sig AS (${minhashSignaturesSql(table, k)}),
       |banded AS (
       |  SELECT doc_id, k // $rowsPerBand AS band,
       |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS band_sig
       |  FROM sig GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
       |sh AS (${shingleHashesSql(table)}),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cands c JOIN sh sa ON c.doc_a = sa.doc_id
       |               JOIN sh sb ON c.doc_b = sb.doc_id AND sa.sh_hash = sb.sh_hash
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
       |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       |           JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- SimHash -------------------------------------------------------------

  val SimhashBits = 32

  /** 32-bit SimHash over whitespace tokens: bit b of the fingerprint is the
    * sign of sum over tokens of (2*bit_b(md5_32(token)) - 1). One explode,
    * one aggregate with SimhashBits packed into a single sum each. */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(TextOps.tokens(lower(col("text")))).as("w"))
      .withColumn("h", md5Key(col("w")))
    val bitSums = (0 until SimhashBits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1L) * 2L - 1L).as(s"s$b")
    }
    val summed = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until SimhashBits).map { b =>
      when(col(s"s$b") > 0, 1L << b).otherwise(0L)
    }.reduce(_ + _)
    summed.select(col("doc_id"), fp.as("simhash"))
  }

  def simhashSql(table: String): String = {
    val bitSums = (0 until SimhashBits).map { b =>
      s"sum(((h >> $b) & 1) * 2 - 1) AS s$b"
    }.mkString(", ")
    val fp = (0 until SimhashBits).map { b =>
      s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    ${md5KeySql(s"unnest(${TextOps.tokensSql("lower(text)")})")} AS h
       |  FROM $table),
       |sums AS (SELECT doc_id, $bitSums FROM tok GROUP BY 1)
       |SELECT doc_id, $fp AS simhash FROM sums ORDER BY doc_id""".stripMargin
  }

  val SimhashBands = 4 // 4 bands x 8 bits of the 32-bit fingerprint

  /** SimHash near-dup pairs: hamming distance <= maxDist.
    *
    * Candidate generation by the pigeonhole band trick: with 4 bands and
    * maxDist <= 3, at most 3 bands can differ, so every qualifying pair
    * shares at least one *exact* 8-bit band — candidates become an
    * EQUI-join on (band_index, band_bits) instead of an O(n^2) nested-loop
    * cross join, which is the shape that survives 10^12 docs. Exact
    * (complete) for maxDist < SimhashBands. */
  def simhashPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist < SimhashBands, "pigeonhole completeness needs maxDist < bands")
    // r6: persist the per-doc fingerprints — the frame feeds BOTH sides of
    // the band self-join, and without it the md5-token explode + 32-sum
    // aggregate re-executes when exchange reuse misses (the lshPairs
    // lesson); one long per document, which stays cached after the query
    // until someone unpersists it
    val s = simhash(docs).persist()
    val bandWidth = SimhashBits / SimhashBands
    val banded = s.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimhashBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandWidth)
            .bitwiseAND((1L << bandWidth) - 1).as("bits"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bits"))
    val a = banded.as("a"); val b = banded.as("b")
    val cands = a.join(b, col("a.band") === col("b.band") &&
                          col("a.bits") === col("b.bits") &&
                          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
    cands.withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  def simhashPairsSql(table: String, maxDist: Int): String = {
    val bandWidth = SimhashBits / SimhashBands
    val arms = (0 until SimhashBands).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * bandWidth}) & ${(1L << bandWidth) - 1} AS bits FROM s"
    }.mkString("\nUNION ALL\n")
    s"""WITH s AS (${simhashSql(table)}),
       |banded AS ($arms),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sh_a, b.simhash AS sh_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
       |FROM cands WHERE bit_count(xor(sh_a, sh_b)) <= $maxDist
       |ORDER BY doc_a, doc_b""".stripMargin
  }
  // ---- exact-substring duplication (windowed verbatim overlap) -----------

  /** Exact-substring duplicate detection — the training-data dedup class
    * popularized by "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2022, arXiv:2107.06499): every length-`window`
    * character window at `stride` spacing is hashed, and a window hash
    * held by more than one document marks a VERBATIM shared substring —
    * the guarantee sketch methods (MinHash/SimHash) deliberately trade
    * away. Finds e.g. a shared prefix between a document and its
    * suffix-appended near-duplicate that exact whole-text dedup misses.
    *
    * Scale shape: windows-per-doc is len/stride (bounded fan-out, no
    * pairs), the groupBy on the window hash is map-side combinable, and
    * shuffle rows are DISTINCT window hashes — at 100 TB this is the same
    * partial-agg profile as exact dedup, never candidate-quadratic.
    * Output: one row per duplicated window hash with its document spread.
    * Hash = first 8 md5 hex digits as a BIGINT (the engine's established
    * cross-engine hash identity). */
  /** Both engines scan window offsets up to this cap (a multiple of every
    * sensible stride), so a document longer than MaxWindowOff + window is
    * TRUNCATED identically on the Spark and DuckDB sides — without the
    * shared clamp the oracle's constant offset series would silently
    * disagree with Spark's per-row sequence on long documents. */
  val MaxWindowOff = 16368

  /** (doc_id, wh) rows: the hash of every length-`window` character window
    * at `stride` spacing, offsets clamped to [[MaxWindowOff]] identically
    * in both engines. The shared primitive of exact-substring dedup and
    * benchmark decontamination. */
  def windowHashes(docs: DataFrame, window: Int = 64,
                   stride: Int = 16): DataFrame =
    docs
      .select(col("doc_id"),
        explode(sequence(lit(0),
          least(lit(MaxWindowOff),
            greatest(lit(0), length(col("text")) - window)), lit(stride))).as("off"),
        col("text"))
      .select(col("doc_id"),
        md5Key(col("text").substr(col("off") + 1, lit(window))).as("wh"))

  def windowHashesSql(table: String, window: Int = 64,
                      stride: Int = 16): String =
    s"""SELECT doc_id,
       |    ${md5KeySql(s"substr(text, o.o + 1, $window)")} AS wh
       |  FROM $table t, generate_series(0, $MaxWindowOff, $stride) o(o)
       |  WHERE o.o <= LEAST($MaxWindowOff, GREATEST(0, length(t.text) - $window))""".stripMargin

  def substringDupWindows(docs: DataFrame, window: Int = 64,
                          stride: Int = 16): DataFrame =
    windowHashes(docs, window, stride)
      .groupBy("wh")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_windows"),
           min("doc_id").as("first_doc"))
      .filter(col("n_docs") > 1)

  /** DuckDB mirror of [[substringDupWindows]]. The offset series is a
    * CONSTANT 0..MaxWindowOff progression filtered per row (this DuckDB
    * build has no lateral generate_series); the Spark side clamps its
    * per-row sequence to the same cap, so the two offset sets are equal
    * BY CONSTRUCTION for any text length. */
  def substringDupWindowsSql(table: String, window: Int = 64,
                             stride: Int = 16): String =
    s"""WITH w AS (
       |  ${windowHashesSql(table, window, stride)})
       |SELECT wh, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_windows,
       |  MIN(doc_id) AS first_doc
       |FROM w GROUP BY wh HAVING COUNT(DISTINCT doc_id) > 1
       |ORDER BY wh""".stripMargin

  // ---- benchmark decontamination ------------------------------------------

  /** Benchmark decontamination: flag every training document that shares a
    * verbatim length-`window` substring with any document of a held-out
    * benchmark set — the standard eval-contamination sweep run before
    * pretraining (same verbatim-overlap class as Lee et al. 2022; the
    * benchmark here is the deterministic id slice `doc_id % benchMod = 0`).
    * Output: (doc_id, n_hits = distinct shared window hashes, n_windows =
    * matched window instances) per contaminated training document.
    *
    * Scale shape: the benchmark window set is small (eval suites are MBs
    * against a 100-TB corpus), so it rides a BROADCAST semi-join — the
    * training side streams map-only through scan -> explode -> hash ->
    * broadcast-probe with no shuffle before the per-doc aggregate. */
  def contaminatedDocs(docs: DataFrame, benchMod: Long = 35,
                       window: Int = 64, stride: Int = 16): DataFrame = {
    // r6: filter BEFORE windowing (guide §2.3 — push the cheap id predicate
    // below the expensive explode+md5). A document's window hashes depend
    // only on its own text, so windowing each disjoint slice directly is
    // value-identical to windowing everything and filtering after — but the
    // bench arm now explodes only its 1/benchMod of the corpus, and the
    // shared full-corpus window subtree (previously computed once per arm
    // when exchange reuse missed) is gone.
    val bench = windowHashes(docs.filter(col("doc_id") % benchMod === 0),
        window, stride)
      .select("wh").distinct()
    windowHashes(docs.filter(col("doc_id") % benchMod =!= 0), window, stride)
      .join(broadcast(bench), "wh")
      .groupBy("doc_id")
      .agg(countDistinct("wh").as("n_hits"), count(lit(1)).as("n_windows"))
  }

  def contaminatedDocsSql(table: String, benchMod: Long = 35,
                          window: Int = 64, stride: Int = 16): String =
    s"""WITH w AS (
       |  ${windowHashesSql(table, window, stride)}),
       |bench AS (SELECT DISTINCT wh FROM w WHERE doc_id % $benchMod = 0)
       |SELECT doc_id, COUNT(DISTINCT w.wh) AS n_hits, COUNT(*) AS n_windows
       |FROM w JOIN bench ON w.wh = bench.wh
       |WHERE doc_id % $benchMod <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
