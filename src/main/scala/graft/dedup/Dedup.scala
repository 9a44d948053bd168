package graft.dedup

import graft.Tables
import graft.text.TextFunctions
import graft.text.TextFunctions.normText
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Document deduplication for the training-data pipeline surface.
  *
  * The test corpus has no natural duplicates, so each operator works on a
  * deterministic `corpus`: documents ∪ exact copies (doc_id%7==0, +1M id)
  * ∪ truncated near-copies (doc_id%11==0, +2M id). Both Spark and the
  * DuckDB oracle derive the corpus identically.
  *
  * Scale design: every operator generates candidates through bucketing
  * (hash group, LSH band, sign-bucket) — never a global cross join. At
  * 100 TB the only shuffles are by bucket key, and bucket sizes are bounded
  * by construction.
  */
object Dedup {

  /** Every memoized build below is declared through this owner, so
    * [[clearMemos]] evicts all of them. */
  private val memos = new graft.SharedBuilds.Owner

  /** Mersenne prime 2^31-1: minhash arithmetic stays < 2^62 (no overflow
    * divergence between engines). */
  private val P = 2147483647L
  /** Fixed (a,b) params for the k=16 minhash permutations. */
  private val hashParams: Seq[(Long, Long)] =
    Seq(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L, 41L, 43L, 47L, 53L, 59L, 61L, 67L)
      .zipWithIndex.map { case (a, i) => (a * 1000003L % P, (i * 2654435761L + 1L) % P) }

  /** Normalized corpus, cached once per (session, dir) — shared by the
    * whole dedup family so a multi-query run normalizes text once. Bounded
    * like every [[graft.SharedBuilds]] memo: admitting a new dir
    * unpersists the old one, so a session sweeping many data dirs holds
    * one dir's worth of executor storage, not all of them. */
  private val normCache = memos.frames()
  def normCorpus(spark: SparkSession, dir: String): DataFrame =
    normCache(spark, dir)(
      corpus(spark, dir).withColumn("t", normText(col("text"))))

  def corpus(spark: SparkSession, dir: String): DataFrame = {
    // spread: the whole dedup family's shingle/signature fan-out pipelines
    // into this scan stage; a single-row-group test file would otherwise
    // serialize it on one core (no-op at production split counts)
    Tables.spread(corpusSerial(spark, dir))
  }

  /** [[corpus]] without the spread guard — for pure hash-agg consumers
    * (one narrow per-row expression straight into a groupBy) where the
    * round-robin exchange costs more than the per-row work it would
    * parallelize (measured: dedup_exact 0.23 s serial vs 0.56 s spread at
    * sf0.1). At production split counts the two are the same plan minus
    * one exchange. */
  /** Injection id invariant: copies live at +1M and truncations at +2M,
    * and several operators recover the original id as `doc_id % 1M` /
    * classify originals as `doc_id < 1M` — all of it sound ONLY while
    * max(documents.doc_id) < 1,000,000. Round12Spec pins that bound on
    * every test scale (the audio fingerprint dedup hit exactly this
    * collision class with its old +3M constant and now derives its
    * offset from max(doc_id); here the constant is load-bearing in the
    * `% 1M` recovery algebra of both engines, so it is pinned instead —
    * a corpus past 1M docs must regenerate these offsets). */
  def corpusSerial(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSerial(spark, dir, "documents").select(col("doc_id"), col("text"))
    val exact = docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val near = docs.where(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        col("text").substr(lit(1), greatest(length(col("text")) - 10, lit(20))).as("text"))
    docs.unionAll(exact).unionAll(near)
  }

  val corpusSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 2000000, substr(text, 1, greatest(length(text) - 10, 20))
      |    FROM documents WHERE doc_id % 11 = 0
      |)""".stripMargin

  /** Exact dedup: hash-groupBy on md5 of normalized text. One shuffle by
    * 128-bit digest; the canonical survivor is min(doc_id). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    // serial corpus, not the shared spread+memoized one: one md5 per row
    // straight into the digest groupBy is cheaper than the spread
    // exchange it would ride behind (see corpusSerial)
    corpusSerial(spark, dir).withColumn("t", normText(col("text")))
      .select(col("doc_id"), md5(col("t")).as("sig"))
      .groupBy("sig")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("canonical_id"), max("doc_id").as("max_id"))
      .where(col("n_copies") > 1)
      .orderBy("sig")

  /** Bloom-prefilter sizing table — the admission-path optimization the
    * incremental dedup family runs BEFORE its band-key shuffle: a
    * broadcastable m-bit / k-hash Bloom set over the corpus signatures
    * lets a fresh batch drop definite non-members map-side, so only
    * possible duplicates pay the index join. This op builds that set
    * (m = 2¹⁶, k = 4, positions from independent md5 slices — the
    * digest convention the whole dedup family shares with the oracle),
    * reports its fill ratio, and MEASURES the false-positive rate
    * against a derived guaranteed-non-member probe set (md5(t‖":probe"))
    * next to the fill⁴ theory value — the go/no-go number for turning
    * the prefilter on.
    *
    * Scale shape: one explode to 4 positions/doc, a distinct on the
    * ≤2¹⁶-row bit-set (broadcastable by construction), the probe join
    * against that bounded set, and single-row folds. Never touches a
    * doc×doc pair. */
  def bloomFpr(spark: SparkSession, dir: String): DataFrame = {
    val m = 65536L
    val base = corpusSerial(spark, dir).withColumn("t", normText(col("text")))
    def slots(sigCol: Column): Column = array((0 until 4).map(j =>
      conv(substring(sigCol, 1 + 8 * j, 8), 16, 10).cast("long") % m): _*)
    val setBits = base.select(explode(slots(md5(col("t")))).as("pos")).distinct()
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val nSet = setBits.agg(count(lit(1)).as("n_set_bits"))
    val probeHits = base
      .select(col("doc_id"), explode(slots(md5(concat(col("t"), lit(":probe"))))).as("pos"))
      .join(setBits.withColumnRenamed("pos", "spos"), col("pos") === col("spos"))
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    val nFp = probeHits.where(col("hits") === 4L)
      .agg(count(lit(1)).as("n_false_positives"))
    val fill = col("n_set_bits").cast("double") / lit(m.toDouble)
    nDocs.crossJoin(broadcast(nSet)).crossJoin(broadcast(nFp))
      .select(col("n_docs"), lit(m).as("m_bits"), lit(4L).as("k_hashes"),
        col("n_set_bits"), fill.as("fill_ratio"),
        (fill * fill * fill * fill).as("expected_fpr"),
        col("n_docs").as("n_probes"), col("n_false_positives"),
        (col("n_false_positives").cast("double") / col("n_docs").cast("double"))
          .as("measured_fpr"))
  }

  val bloomFprSql: String =
    s"""$corpusSql,
       |b AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus),
       |cpos AS (
       |  SELECT DISTINCT CAST('0x' || substr(md5(t), 1 + 8 * j, 8) AS BIGINT) % 65536 AS pos
       |  FROM b, (SELECT unnest([0, 1, 2, 3]) AS j)),
       |ppos AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(t || ':probe'), 1 + 8 * j, 8) AS BIGINT) % 65536 AS pos
       |  FROM b, (SELECT unnest([0, 1, 2, 3]) AS j)),
       |hits AS (
       |  SELECT p.doc_id, count(*) AS hits
       |  FROM ppos p JOIN cpos c ON p.pos = c.pos GROUP BY p.doc_id),
       |f AS (
       |  SELECT (SELECT count(*) FROM b) AS n_docs,
       |         (SELECT count(*) FROM cpos) AS n_set_bits,
       |         (SELECT count(*) FROM hits WHERE hits = 4) AS n_false_positives)
       |SELECT n_docs, CAST(65536 AS BIGINT) AS m_bits, CAST(4 AS BIGINT) AS k_hashes,
       |       n_set_bits,
       |       CAST(n_set_bits AS DOUBLE) / 65536.0 AS fill_ratio,
       |       (CAST(n_set_bits AS DOUBLE) / 65536.0) * (CAST(n_set_bits AS DOUBLE) / 65536.0)
       |         * (CAST(n_set_bits AS DOUBLE) / 65536.0) * (CAST(n_set_bits AS DOUBLE) / 65536.0)
       |         AS expected_fpr,
       |       n_docs AS n_probes, n_false_positives,
       |       CAST(n_false_positives AS DOUBLE) / CAST(n_docs AS DOUBLE) AS measured_fpr
       |FROM f""".stripMargin

  /** Chunk-level duplication histogram: split each normalized document
    * into fixed 200-char windows, hash every window, and count how many
    * chunks occur k times corpus-wide — the statistic behind chunk-level
    * (passage) dedup of a training corpus, where boilerplate repeats
    * inside otherwise-unique pages.
    *
    * Scale shape: the chunk explode is per-row (no shuffle); the two
    * groupBys shuffle on the 128-bit digest then on the small multiplicity
    * key. No joins, no windows — survives any corpus size. */
  def chunkDupHist(spark: SparkSession, dir: String): DataFrame =
    normCorpus(spark, dir)
      .select(explode(transform(
        sequence(lit(1), greatest(length(col("t")), lit(1)), lit(200)),
        i => md5(col("t").substr(i, lit(200))))).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("multiplicity"))
      .groupBy("multiplicity")
      .agg(count(lit(1)).as("n_chunks"))
      .orderBy("multiplicity")

  val chunkDupHistSql: String =
    s"""$corpusSql,
       |norm AS (
       |  SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus),
       |chunks AS (
       |  SELECT unnest([md5(substr(t, i, 200)) for i in range(1, greatest(length(t), 1) + 1, 200)]) AS h
       |  FROM norm),
       |m AS (SELECT h, count(*) AS multiplicity FROM chunks GROUP BY h)
       |SELECT multiplicity, count(*) AS n_chunks
       |FROM m GROUP BY multiplicity ORDER BY multiplicity""".stripMargin

  /** Shingle table for an arbitrary (doc_id, text) frame — the building
    * block the streaming admission path shares with the batch family. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleCol(normText(col("text"))).as("shingles"))

  /** Band-key table (doc_id, band_id, band_key) for a shingle table:
    * the same 16 minhash permutations and 4×4 banding as the batch
    * pipeline, so streaming-admitted signatures and batch-built ones are
    * interchangeable state. */
  private[graft] def bandsOf(shingled: DataFrame): DataFrame =
    bandsFromSigs(sigsOf(shingled))

  /** The 16 permuted-min signature columns over an `hs` column — the ONE
    * definition of the signature scheme (batch family and streaming
    * admission state must stay interchangeable). */
  private def sigColumns: Seq[Column] = hashParams.zipWithIndex.map { case ((a, b), i) =>
    array_min(transform(col("hs"), h => pmod(h * a + b, lit(P)))).as(s"sig$i")
  }

  /** (doc_id, sig0..15) for an arbitrary shingle table. */
  private def sigsOf(shingled: DataFrame): DataFrame =
    shingled.withColumn("hs", transform(col("shingles"), s => baseHash(s)))
      .select(col("doc_id") +: sigColumns: _*)

  /** 4×4 band-key explode of a signature table. */
  private def bandsFromSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(bandStructsCol).as("bk"))
      .select(col("doc_id"), col("bk.band_id").as("band_id"), col("bk.band_key").as("band_key"))

  /** One explode over a 4-element band array — NOT a 4-way union, which
    * would re-evaluate the whole signature subtree once per band. */
  private def bandStructsCol: Column = array((0 until 4).map { b =>
    val key = coalesce(
      md5(concat_ws(",", (0 until 4).map(r => col(s"sig${b * 4 + r}").cast("string")): _*)), lit(""))
    struct(lit(b).as("band_id"), key.as("band_key"))
  }: _*)

  /** Distinct 5-char shingles (stride 3) of the normalized text. */
  private def shingleCol(norm: Column): Column = shingleColK(norm, 5)

  /** Distinct k-char shingles (stride 3) — k = 5 is the family default;
    * the containment auto-blocking escalates to k = 10 on measured-dense
    * corpora (longer shingles open up a closed vocabulary, collapsing
    * per-shingle df). */
  private def shingleColK(norm: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(norm) - (k - 1), lit(1)), lit(3)),
      i => norm.substr(i, lit(k))))

  /** Base shingle hash: first 60 bits of md5, reduced mod P — identical to
    * DuckDB's CAST('0x'||substr(md5(s),1,15) AS BIGINT) % P. */
  private def baseHash(s: Column): Column =
    pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(P))

  /** Verified candidate pairs (id_a, id_b, n_common, n_union, jaccard),
    * memoized per (session, dir) — [[minhashLsh]] and [[cluster]] share
    * one build of the signature + band + verify pipeline. */
  private val pairsCache = memos.frames()
  def verifiedPairs(spark: SparkSession, dir: String): DataFrame =
    pairsCache(spark, dir)(buildVerifiedPairs(spark, dir))

  /** Drop (and unpersist) every memoized build for `spark`, the
    * containment scheme decision included (see [[graft.SharedBuilds.clear]]). */
  private[graft] def clearMemos(spark: SparkSession): Unit = memos.clear(spark)

  /** MinHash + LSH: 16-permutation signature, 4 bands × 4 rows, candidate
    * pairs from band-bucket self-join, exact Jaccard verify on candidates
    * only. Output: near-dup pairs with Jaccard ≥ 0.6. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    verifiedPairs(spark, dir)
      .where(col("jaccard") >= 0.6)
      .select("id_a", "id_b", "n_common", "n_union", "jaccard")
      .orderBy("id_a", "id_b")

  private val labelsCache = memos.frames()
  private val simhashFpCache = memos.frames()
  private val ngramBaseCache = memos.frames()

  /** Cached (doc_id, sig0..15) signature table — shared by the pair
    * build and the estimator-accuracy operator. */
  private val sigCache = memos.frames()
  private[graft] def signatures(spark: SparkSession, dir: String): DataFrame =
    sigCache(spark, dir)(
      sigsOf(normCorpus(spark, dir)
        .select(col("doc_id"), shingleCol(col("t")).as("shingles"))))

  /** The memoized corpus builds the dedup family shares, in dependency
    * order. Bench forces each under its own `shared:<name>` line BEFORE
    * timing the registry, so (a) every family query's median measures its
    * marginal cost instead of whichever member happened to pay a cold
    * build first, and (b) the build cost itself is an explicit, attributed
    * bench line (each line's time is its marginal cost over the lines
    * before it — e.g. `verified_pairs` charges the band join + exact
    * verify but not the signature build it reads). */
  def sharedBuilds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "norm_corpus" -> ((s, d) => normCorpus(s, d)),
    "minhash_signatures" -> ((s, d) => signatures(s, d)),
    "verified_pairs" -> ((s, d) => verifiedPairs(s, d)),
    // containment stage probes (r11 verdict: builder 6.3 s vs driver
    // 18.4 s on the same code — attribute divergence to a STAGE, not a
    // machine). Each probe computes the pipeline PREFIX up to its stage,
    // uncached, so consecutive line deltas are per-stage costs:
    //   s0 scheme pricing → s1 token explode + df count → s2 prefix cut
    //   → s3 candidate join+positional filter → containment_pairs adds
    //   the exact shingle verify.
    "containment_s0_scheme" -> ((s, d) => {
      val scheme = containmentBlockingScheme(s, d)
      s.sql(s"SELECT '$scheme' AS scheme")
    }),
    "containment_s1_dfreq" -> ((s, d) => containmentDfreq(s, d)),
    "containment_s2_prefix" -> ((s, d) => containmentPrefixTable(s, d)),
    "containment_s3_candidates" -> ((s, d) => containmentCandidates(s, d)),
    "containment_pairs" -> ((s, d) => containmentPairs(s, d)),
    "clusters" -> ((s, d) => cluster(s, d)),
    "simhash_fingerprints" -> ((s, d) => simhashFingerprints(s, d)),
    "ngram_base" -> ((s, d) => ngramBase(s, d)))

  private def buildVerifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    // Materialize signatures before the self-join (at 100 TB: checkpoint /
    // persisted table); otherwise both join sides recompute the pipeline.
    // Candidate pairs travel as bare (id_a, id_b) — the shingle arrays are
    // re-joined only after pair dedup, so the band join + distinct never
    // shuffles the heavy arrays.
    val banded = bandsFromSigs(signatures(spark, dir))
    val left = banded.select(col("band_id"), col("band_key"), col("doc_id").as("id_a"))
    val right = banded.select(col("band_id"), col("band_key"), col("doc_id").as("id_b"))
    val candIds = left.join(right, Seq("band_id", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    exactVerify(spark, dir, candIds)
  }

  /** Exact shingle verify of bare candidate id pairs — shared by the
    * symmetric (4×4-band) and containment (single-sig-band) pipelines.
    * Plain shuffled joins on the bare doc_id keys: the shingle table is
    * the heaviest column in the corpus, so forcing it into a broadcast
    * would OOM long before 100 TB. AQE still picks broadcast at runtime
    * whenever the post-scan shingle table is actually small. */
  private def exactVerify(spark: SparkSession, dir: String, candIds: DataFrame): DataFrame = {
    // intersect 60-bit shingle DIGEST arrays, not the 5-char strings: the
    // candidate join ships two ~|doc|/3-element arrays per pair, and long
    // arrays halve both the shuffle bytes and the per-element compare cost
    // (measured 11.1 → 4.7 s on the 14M-pair sf0.1 containment verify).
    // Both engines hash identically (md5 60-bit prefix, no mod), so any
    // collision is SHARED and the counts still agree bit-for-bit.
    // Arrays are SORTED once per document so the per-pair count is the
    // native two-pointer graft_sorted_common64 — no per-row hash set, no
    // materialized intersection array (size(array_intersect) built both).
    graft.functions.GraftFunctions.register(spark)
    val shingleTable = normCorpus(spark, dir)
      .select(col("doc_id"),
        array_sort(array_distinct(transform(shingleCol(col("t")),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))).as("shingles"))
    val shA = shingleTable.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val shB = shingleTable.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    candIds.join(shA, "id_a").join(shB, "id_b")
      .withColumn("n_common", expr("graft_sorted_common64(sh_a, sh_b)").cast("long"))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_common"))
      .withColumn("jaccard", col("n_common").cast("double") / col("n_union").cast("double"))
      .select("id_a", "id_b", "n_common", "n_union", "n_a", "n_b", "jaccard")
  }

  /** Shared CTE prefix ending in `sigs(doc_id, shingles, sig0..15)` —
    * generated so the 16 permutations stay in lockstep with hashParams. */
  private def sigsCte: String = {
    val sigExprs = hashParams.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $P)) AS sig$i"
    }.mkString(",\n         ")
    s"""$corpusSql,
       |norm AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus),
       |shs AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(generate_series(1, greatest(length(t) - 4, 1), 3),
       |                                      i -> substr(t, i, 5))) AS shingles
       |  FROM norm),
       |sh AS (
       |  SELECT doc_id, shingles,
       |         list_distinct(list_transform(shingles,
       |                                      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS hsh
       |  FROM shs),
       |hashed AS (
       |  SELECT doc_id, shingles,
       |         list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $P) AS hs
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id, shingles,
       |         $sigExprs
       |  FROM hashed)""".stripMargin
  }

  /** Shared CTE tail: `banded` → distinct candidates → exact verify —
    * the one verify definition both banding schemes append to. */
  private val candsVerifyCte: String =
    """cands AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.band_key = b.band_key
      |  WHERE a.doc_id < b.doc_id),
      |verified AS (
      |  SELECT c.id_a, c.id_b,
      |         len(list_intersect(sa.hsh, sb.hsh)) AS n_common,
      |         len(sa.hsh) + len(sb.hsh) - len(list_intersect(sa.hsh, sb.hsh)) AS n_union,
      |         len(sa.hsh) AS n_a, len(sb.hsh) AS n_b
      |  FROM cands c JOIN sh sa ON c.id_a = sa.doc_id JOIN sh sb ON c.id_b = sb.doc_id)""".stripMargin

  /** Shared CTE chain ending in `verified(id_a, id_b, n_common, n_union)`
    * over the symmetric 4×4 banding. */
  private def minhashPairsCte: String = {
    val bandSelects = (0 until 4).map { b =>
      val cat = (0 until 4).map(r => s"CAST(sig${b * 4 + r} AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, shingles, $b AS band_id, md5($cat) AS band_key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""$sigsCte,
       |banded AS (
       |  $bandSelects),
       |$candsVerifyCte""".stripMargin
  }

  def minhashLshSql: String =
    s"""$minhashPairsCte
       |SELECT id_a, id_b, n_common, n_union,
       |       CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
       |FROM verified WHERE CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.6
       |ORDER BY id_a, id_b""".stripMargin

  /** Measured banding-config sweep — the empirical side of
    * [[lshTune]]'s analytic S-curves: the SAME 16-permutation signature
    * re-banded as (b×r) ∈ {2×8, 4×4, 8×2, 16×1}, reporting per config
    * the MEASURED candidate workload the banding would EMIT (Σ C(sz,2)
    * over bucket occupancies — one verification per colliding band, the
    * number an LSH verify stage actually pays before any cross-band pair
    * dedup), the documents living in ≥2-occupancy buckets, and the
    * bucket occupancy envelope. lshTune says what each config SHOULD
    * admit at a given Jaccard; this says what it DOES admit on this
    * corpus — the gap between the two is the real shingle-correlation
    * signal no analytic curve shows. r=1 (16 single-hash bands) is the
    * flood end: its emitted count is the price of maximum recall.
    *
    * Scale shape: ONE explode of all 30 band structs over the memoized
    * signature table (never a per-config union re-evaluating the
    * signature subtree), then pure occupancy arithmetic — the emitted
    * count is the CLOSED FORM Σ sz·(sz−1)/2 over the bucket-size table,
    * never a materialized pair self-join (the earlier pair-DISTINCT
    * version grew quadratically in the r=1 flood buckets: 15.1 s at
    * sf0.1 and unboundedly worse at 100 TB; this form is linear in the
    * banded rows). Docs-in-buckets reuses the same (cfg, band, key)
    * exchange via a window count. ≤4-row output. */
  def bandConfigSweep(spark: SparkSession, dir: String): DataFrame = {
    val configs = Seq((2, 8), (4, 4), (8, 2), (16, 1))
    val structs = configs.flatMap { case (b, r) =>
      (0 until b).map { bi =>
        val key = coalesce(md5(concat_ws(",",
          (0 until r).map(ri => col(s"sig${bi * r + ri}").cast("string")): _*)), lit(""))
        struct(lit(b).as("cfg_b"), lit(r).as("cfg_r"),
          lit(bi).as("band_id"), key.as("band_key"))
      }
    }
    val banded = signatures(spark, dir)
      .select(col("doc_id"), explode(array(structs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.cfg_b").as("cfg_b"), col("bk.cfg_r").as("cfg_r"),
        col("bk.band_id").as("band_id"), col("bk.band_key").as("band_key"))
    val occ = banded.groupBy("cfg_b", "band_id", "band_key")
      .agg(count(lit(1)).as("sz"))
    val stats = occ.groupBy("cfg_b").agg(
      count(lit(1)).as("n_buckets"),
      max(col("sz")).as("max_bucket_size"),
      sum(expr("sz * (sz - 1) DIV 2")).as("n_emitted_pairs"))
    // a doc is "in play" iff any of its buckets holds a second doc; the
    // window count shares the banded exchange partitioning with occ
    val w = Window.partitionBy("cfg_b", "band_id", "band_key")
    val touched = banded
      .withColumn("sz", count(lit(1)).over(w))
      .where(col("sz") >= 2)
      .select("cfg_b", "doc_id").distinct()
      .groupBy("cfg_b").agg(count(lit(1)).as("n_docs_in_buckets"))
    val cfgDf = {
      import spark.implicits._
      configs.toDF("cfg_b", "cfg_r")
    }
    cfgDf.join(stats, Seq("cfg_b"), "left")
      .join(touched, Seq("cfg_b"), "left")
      .select(col("cfg_b"), col("cfg_r"),
        coalesce(col("n_emitted_pairs"), lit(0L)).as("n_emitted_pairs"),
        coalesce(col("n_docs_in_buckets"), lit(0L)).as("n_docs_in_buckets"),
        col("n_buckets"), col("max_bucket_size"))
      .orderBy("cfg_b")
  }

  def bandConfigSweepSql: String = {
    val bandSelects = Seq((2, 8), (4, 4), (8, 2), (16, 1)).flatMap { case (b, r) =>
      (0 until b).map { bi =>
        val cat = (0 until r).map(ri => s"CAST(sig${bi * r + ri} AS VARCHAR)")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $b AS cfg_b, $r AS cfg_r, $bi AS band_id, md5($cat) AS band_key FROM sigs"
      }
    }.mkString("\n  UNION ALL ")
    s"""$sigsCte,
       |banded AS (
       |  $bandSelects),
       |occ_b AS (
       |  SELECT cfg_b, band_id, band_key, count(*) AS sz
       |  FROM banded GROUP BY cfg_b, band_id, band_key),
       |stats AS (
       |  SELECT cfg_b, count(*) AS n_buckets, max(sz) AS max_bucket_size,
       |         sum(sz * (sz - 1) // 2) AS n_pairs
       |  FROM occ_b GROUP BY cfg_b),
       |touched AS (
       |  SELECT b.cfg_b, count(DISTINCT b.doc_id) AS n_docs
       |  FROM banded b JOIN occ_b o
       |    ON b.cfg_b = o.cfg_b AND b.band_id = o.band_id AND b.band_key = o.band_key
       |  WHERE o.sz >= 2
       |  GROUP BY b.cfg_b),
       |cfgs AS (SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2), (16, 1)) AS c(cfg_b, cfg_r))
       |SELECT CAST(c.cfg_b AS INTEGER) AS cfg_b, CAST(c.cfg_r AS INTEGER) AS cfg_r,
       |       CAST(coalesce(s.n_pairs, 0) AS BIGINT) AS n_emitted_pairs,
       |       CAST(coalesce(t.n_docs, 0) AS BIGINT) AS n_docs_in_buckets,
       |       CAST(s.n_buckets AS BIGINT) AS n_buckets,
       |       CAST(s.max_bucket_size AS BIGINT) AS max_bucket_size
       |FROM cfgs c
       |LEFT JOIN stats s ON c.cfg_b = s.cfg_b
       |LEFT JOIN touched t ON c.cfg_b = t.cfg_b
       |ORDER BY c.cfg_b""".stripMargin
  }

  /** Shingle-containment dedup: |A∩B| / min(|A|,|B|) — catches
    * sub-document duplication (one document truncating or embedding
    * another) that symmetric Jaccard under-scores: a 20%-length prefix
    * copy has Jaccard ≈ 0.2 but containment ≈ 1.0.
    *
    * Candidates come from the DATA-CHOSEN blocking scheme
    * ([[containmentBlockingScheme]]): the exact SSJoin prefix filter when
    * its closed-form workload is within budget on this corpus (the
    * driver-gated default — lossless, output = the brute-force
    * containment join), escalating to k=10 blocking shingles and finally
    * 16×1 single-signature bands (1−(1−J)^16 ≈ 97 % recall at the J≈0.2
    * of a 20 %-prefix copy) on measured-dense corpora where any k=5
    * blocking goes quadratic. */
  def containment(spark: SparkSession, dir: String, threshold: Double = 0.9): DataFrame =
    containmentPairs(spark, dir)
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "n_common", "n_a", "n_b", "containment")
      .orderBy("id_a", "id_b")

  /** Verified pairs over EXACT prefix-filter candidates (the containment
    * family's shared build), memoized like [[verifiedPairs]].
    *
    * Blocking is the set-similarity-join prefix filter (Chaudhuri et al.
    * SSJoin ICDE'06; Bayardo et al. WWW'07), not LSH: containment ≥ 0.9
    * means the smaller set B shares ≥ ⌈0.9·|B|⌉ shingles with A, so at
    * most |B| − ⌈0.9·|B|⌉ of B's shingles are non-shared — by pigeonhole
    * ANY ⌊|B|/10⌋ + 1 of B's shingles must contain a shared one. Probing
    * each doc's (global-rarest-first) prefix against the full inverted
    * index is therefore LOSSLESS: unlike minhash banding, no qualifying
    * pair can be missed, and the operator's output is exactly the
    * brute-force containment join. The ceiling is integer arithmetic
    * ((9n+9) DIV 10 — no float ceil to diverge between engines), and the
    * prefix order (document frequency, then digest) is deterministic.
    *
    * Scale shape: tokens explode linearly (|corpus|·|doc| rows); df is
    * one map-side-combined count; the prefix cut is a per-doc window over
    * the doc's own tokens; candidates come from a token-key equi-join of
    * the ~|doc|/10-token probe side against the index — rarest-first
    * ordering keeps probe-token postings short, so candidate volume
    * tracks the true duplicate mass instead of the quadratic bucket
    * flood the earlier single-signature banding paid (14.2M candidate
    * pairs over 6170 sf0.1 docs — 75% of ALL pairs — and a 62-80 s
    * verify; this form verifies only what the prefix filter admits). */
  private val containPairsCache = memos.frames()
  private val containSchemeCache = memos.values[String]()

  /** Closed-form prefix-filter workload: Σ (df − 1) over every doc's
    * pigeonhole-prefix tokens of the k-shingle universe — the probe-hit
    * row count the prefix equi-join would produce, priced from ONE linear
    * pass (token explode + map-side df count + per-doc window), never a
    * materialized pair join. */
  private[graft] def prefixWorkloadHitsOf(corpus: DataFrame, k: Int): Long = {
    val digests = corpus.select(col("doc_id"),
      array_distinct(transform(shingleColK(col("t"), k),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("sh"))
    val toks = digests.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy("df", "tok")
    toks.join(dfreq, "tok")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= col("n") - expr(s"(9 * n + 9) DIV 10") + lit(1))
      .agg(coalesce(sum(col("df") - 1), lit(0L)).as("hits"))
      .collect()(0).getLong(0)
  }

  /** Data-chosen containment blocking (the [[blockingHealth]] decision
    * wired in): price the k=5 prefix filter's closed-form probe workload
    * on THIS corpus against [[containmentSchemeOf]]'s per-doc budget
    * (2048 probe hits); within budget → the EXACT
    * prefix path (lossless — the driver-gated default on every test
    * corpus: measured 74 hits/doc at sf0.01, 911 at sf0.1 vs the 2048
    * budget). Over budget — a closed-vocabulary corpus where every
    * shingle's df scales with the corpus and ANY k=5 blocking goes
    * ~quadratic (SCALE_r11: 117× candidates at ×10 docs) — escalate to
    * k=10 blocking shingles (longer shingles open the vocabulary:
    * measured 36× fewer probe hits on the same corpora; recall is no
    * longer pigeonhole-guaranteed but truncation/embedding duplication
    * shares long contiguous runs, so contiguous near-dups keep colliding;
    * the verify stays exact on the k=5 universe). If even k=10 floods,
    * fall back to single-signature 16×1 minhash banding (recall
    * 1−(1−J)^16 ≈ 97 % at the J≈0.2 of a 20 %-prefix copy — the
    * approximate floor, never a quadratic one). */
  private[graft] def containmentBlockingScheme(spark: SparkSession, dir: String): String =
    containSchemeCache(spark, dir)(containmentSchemeOf(normCorpus(spark, dir)))

  /** The decision itself on an arbitrary normalized corpus (doc_id, t) —
    * Round12Spec (closed vocabulary) and ScaleSwitchSpec (token-suffixed
    * replicas) drive this on synthetic corpora.
    *
    * The banding floor is no longer unconditional (r13 verdict item 3: a
    * 100 TB crawl WILL hit closed-vocab shards, and "refuse" can't be the
    * terminal answer): when both prefix workloads flood, the plain 16×1
    * floor is PRICED closed-form (Σ n·(n−1)/2 over band-bucket occupancy,
    * one aggregation — never a materialized pair join); if it floods too,
    * the ladder walks document-frequency ceilings (nDocs/8 → /32 → /128 →
    * /512) and picks the first whose CAPPED floor prices within budget —
    * returned as `band_16x1_dfcap:<ceiling>`. Stop-shingles (df above the
    * ceiling) carry no discriminative signal — every doc has them, so
    * dropping them before the minhash preserves recall on true near-dups,
    * which by definition share their RARE shingles (Round14Spec pins
    * recall parity on a planted near-dup set). If even the most
    * aggressive cap floods, that ceiling is still returned: post-cap,
    * every band key is a rare-shingle minhash, so residual pair mass is
    * true-dup output mass, not blocking waste. */
  private[graft] def containmentSchemeOf(corpus: DataFrame, budgetPerDoc: Long = 2048): String = {
    val nDocs = math.max(corpus.count(), 1L)
    if (prefixWorkloadHitsOf(corpus, 5) / nDocs <= budgetPerDoc) "prefix_filter"
    else if (prefixWorkloadHitsOf(corpus, 10) / nDocs <= budgetPerDoc) "prefix_k10"
    else if (banding16x1PricedPairs(signaturesOf(corpus)) / nDocs <= budgetPerDoc) "band_16x1"
    else {
      val ladder = Seq(8L, 32L, 128L, 512L).map(d => math.max(nDocs / d, 2L)).distinct
      val chosen = ladder.find { c =>
        banding16x1PricedPairs(sigsOf(dfCappedShingles(corpus, c))) / nDocs <= budgetPerDoc
      }.getOrElse(ladder.last)
      s"band_16x1_dfcap:$chosen"
    }
  }

  /** Closed-form 16×1 banding price: the pair count the band self-join
    * would emit, from bucket occupancy alone (the blockingHealth
    * count-of-counts move) — prices a flood without materializing it. */
  private def banding16x1PricedPairs(sigs: DataFrame): Long =
    sigs.select(explode(array((0 until 16).map(i =>
        struct(lit(i).as("b"), col(s"sig$i").as("k"))): _*)).as("bk"))
      .groupBy(col("bk.b"), col("bk.k")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum((col("n") * (col("n") - 1) / 2).cast("long")), lit(0L)).as("p"))
      .collect()(0).getLong(0)

  /** The corpus re-expressed over its DISCRIMINATIVE shingles only: each
    * doc keeps the shingles whose document frequency is ≤ `dfCeiling`
    * (stop-shingles appear in "everyone" and carry no near-dup signal —
    * the standard df-cut from the SSJoin/winnowing literature). Docs whose
    * every shingle is capped away drop out: at that point shingle-level
    * near-dup detection is information-theoretically void for them (their
    * shingle support is the corpus's), documented rather than flooded.
    * One linear explode + one map-side-combined df count + one join —
    * the same budget as the prefix pricing pass. */
  private[graft] def dfCappedShingles(corpus: DataFrame, dfCeiling: Long): DataFrame = {
    val toks = corpus
      .select(col("doc_id"), explode(shingleCol(col("t"))).as("s"))
    val dfreq = toks.groupBy("s").agg(count(lit(1)).as("df"))
    toks.join(dfreq, "s").where(col("df") <= dfCeiling)
      .groupBy("doc_id").agg(collect_list(col("s")).as("shingles"))
  }

  /** Candidate ids from the DF-CAPPED 16×1 banding floor — the executable
    * path for the closed-vocab flood regime. The verify downstream stays
    * EXACT on the full k=5 universe, so capping affects recall only. */
  private[graft] def bandCandidateIds16x1DfCappedOf(corpus: DataFrame, dfCeiling: Long): DataFrame =
    bandCandidateIds16x1Of(sigsOf(dfCappedShingles(corpus, dfCeiling)))

  private[graft] def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containPairsCache(spark, dir) {
      containmentBlockingScheme(spark, dir) match {
        case "prefix_filter" => exactVerify(spark, dir, prefixCandidateIds(spark, dir, 5))
        case "prefix_k10"    => exactVerify(spark, dir, prefixCandidateIds(spark, dir, 10))
        case s if s.startsWith("band_16x1_dfcap:") =>
          exactVerify(spark, dir,
            bandCandidateIds16x1DfCappedOf(normCorpus(spark, dir), s.split(':')(1).toLong))
        case _               => exactVerify(spark, dir, bandCandidateIds16x1(spark, dir))
      }
    }

  /** Stage probe: the k=5 shingle-digest df table (token explode + one
    * map-side-combined count) — stage s1 of the containment build. */
  private[graft] def containmentDfreq(spark: SparkSession, dir: String): DataFrame =
    normCorpus(spark, dir).select(col("doc_id"),
        explode(array_distinct(transform(shingleCol(col("t")),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))

  /** Stage probe: each doc's pigeonhole-prefix token rows (df join +
    * per-doc rank window + cut) — stage s2 of the containment build. */
  private[graft] def containmentPrefixTable(spark: SparkSession, dir: String): DataFrame = {
    val digests = normCorpus(spark, dir).select(col("doc_id"),
      array_distinct(transform(shingleCol(col("t")),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("sh"))
    val toks = digests.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy("df", "tok")
    toks.join(dfreq, "tok")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= col("n") - expr("(9 * n + 9) DIV 10") + lit(1))
  }

  /** Stage probe: the candidate id pairs of whichever blocking scheme the
    * data chose — stage s3; [[containmentPairs]] adds only the verify. */
  private[graft] def containmentCandidates(spark: SparkSession, dir: String): DataFrame =
    containmentBlockingScheme(spark, dir) match {
      case "prefix_filter" => prefixCandidateIds(spark, dir, 5)
      case "prefix_k10"    => prefixCandidateIds(spark, dir, 10)
      case s if s.startsWith("band_16x1_dfcap:") =>
        bandCandidateIds16x1DfCappedOf(normCorpus(spark, dir), s.split(':')(1).toLong)
      case _               => bandCandidateIds16x1(spark, dir)
    }

  /** Single-signature (16 bands × 1 row) candidate ids — the approximate
    * blocking floor of the containment auto-switch. */
  private def bandCandidateIds16x1(spark: SparkSession, dir: String): DataFrame =
    bandCandidateIds16x1Of(signatures(spark, dir))

  /** [[bandCandidateIds16x1]] over an arbitrary signature table — the
    * df-capped floor and Round14Spec's uncapped recall baseline. */
  private[graft] def bandCandidateIds16x1Of(sigs: DataFrame): DataFrame = {
    val b1 = sigs.select(col("doc_id"), explode(array((0 until 16).map(i =>
        struct(lit(i).as("band_id"), col(s"sig$i").as("band_key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band_id").as("band_id"), col("bk.band_key").as("band_key"))
    val left = b1.select(col("band_id"), col("band_key"), col("doc_id").as("id_a"))
    val right = b1.select(col("band_id"), col("band_key"), col("doc_id").as("id_b"))
    left.join(right, Seq("band_id", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Signature table over an arbitrary (doc_id, t) corpus — the
    * unmemoized twin of [[signatures]] that [[containmentSchemeOf]] prices. */
  private[graft] def signaturesOf(corpus: DataFrame): DataFrame =
    sigsOf(corpus.select(col("doc_id"), shingleCol(col("t")).as("shingles")))

  /** Prefix-filter candidate ids over the k-shingle universe, with the
    * PPJoin positional filter. For k = 5 this is the lossless SSJoin
    * blocking (pigeonhole over the same universe the verify counts); for
    * k = 10 the same machinery blocks on the longer-shingle universe
    * (its own pigeonhole prefix + positional bound on k=10 containment),
    * chosen by [[containmentBlockingScheme]] only on corpora where k = 5
    * floods. */
  private def prefixCandidateIds(spark: SparkSession, dir: String, k: Int): DataFrame =
    prefixCandidateIdsOf(normCorpus(spark, dir), k)

  private[graft] def prefixCandidateIdsOf(corpus: DataFrame, k: Int): DataFrame = {
      val digests = corpus.select(col("doc_id"),
        array_distinct(transform(shingleColK(col("t"), k),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("shingles"))
      val toks = digests.select(col("doc_id"), size(col("shingles")).as("n"),
        explode(col("shingles")).as("tok"))
      val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy("df", "tok")
      // every token ranked in the SAME global (df, digest) order — the
      // prefix cut probes, the full ranked list is the index, and the
      // ranks feed the positional filter below
      val ranked = toks.join(dfreq, "tok")
        .withColumn("rk", row_number().over(w))
      val prefix = ranked
        .where(col("rk") <= col("n") - expr("(9 * n + 9) DIV 10") + lit(1))
        .select(col("doc_id"), col("tok"), col("rk"), col("n"))
      val index = ranked.select(col("doc_id").as("id_x"), col("tok"),
        col("rk").as("rk_x"), col("n").as("n_x"))
      // PPJoin positional filter (Xiao et al. WWW'08), exact under one
      // global order: for a pair's FIRST shared token at ranks (i, j),
      // every shared token lies in both suffixes, so
      // |A∩B| ≤ min(nA−i+1, nB−j+1); a pair whose bound cannot reach
      // c = ⌈0.9·min(nA,nB)⌉ is pruned BEFORE the heavy shingle-array
      // verify. The first shared token is always a probe hit (anything
      // earlier in the global order inside A sits deeper in A's prefix),
      // so min-by-rank over hit rows finds it — ranks are packed into one
      // long because a struct-min would fall back to SortAggregate.
      // Measured honestly: ~12% pruned on the synthetic corpus (df-first
      // ordering puts a shared rare token near the FRONT of both docs, so
      // the bound rarely fires on same-length docs); the filter costs
      // nothing (this groupBy replaces the pair dropDuplicates) and its
      // payoff case is size-skewed pairs — short-doc-contained-in-long —
      // which is exactly the containment workload on real corpora.
      val hits = prefix.join(index, "tok")
        .where(col("doc_id") =!= col("id_x"))
        .select(
          least(col("doc_id"), col("id_x")).as("id_a"),
          greatest(col("doc_id"), col("id_x")).as("id_b"),
          when(col("doc_id") < col("id_x"),
            col("rk") * lit(2147483648L) + col("rk_x"))
            .otherwise(col("rk_x") * lit(2147483648L) + col("rk")).as("packed"),
          when(col("doc_id") < col("id_x"), col("n")).otherwise(col("n_x")).as("n_a"),
          when(col("doc_id") < col("id_x"), col("n_x")).otherwise(col("n")).as("n_b"))
      val candIds = hits
        .groupBy("id_a", "id_b")
        .agg(min(col("packed")).as("first_shared"),
          max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
        .withColumn("i", expr("first_shared DIV 2147483648"))
        .withColumn("j", expr("first_shared % 2147483648"))
        .where(lit(1) + least(col("n_a") - col("i"), col("n_b") - col("j"))
          >= expr("(9 * least(n_a, n_b) + 9) DIV 10"))
        .select(col("id_a"), col("id_b"))
      candIds
  }

  /** Paragraph-level exact dedup — the RefinedWeb/CCNet training-data
    * pass that document-level dedup cannot express: a document SURVIVES
    * but its repeated paragraphs are charged for removal (boilerplate
    * headers, quoted reposts, template blocks). Paragraph = consecutive
    * `wordsPerPara`-word chunk of the normalized text (the corpus is
    * word-soup with no paragraph marks; fixed word windows are the
    * deterministic stand-in both engines compute identically); first
    * occurrence corpus-wide wins — ordered by (doc_id, paragraph index),
    * packed into ONE long so the argmin is a plain hash-aggregable
    * min(long), never a struct-min SortAggregate. Output: per affected
    * doc, paragraph counts, the duplicated share, and the characters a
    * paragraph-level rewrite would remove.
    *
    * Scale shape: one linear chunk explode (|corpus| rows at ~1/12 word
    * density), one map-side-combined min per digest, an equi-join back
    * on the digest, a per-doc rollup. No windows, no all-pairs anywhere —
    * the same budget as exact doc-level dedup. */
  def paragraphDedup(spark: SparkSession, dir: String, wordsPerPara: Int = 12): DataFrame = {
    val words = normCorpus(spark, dir).select(col("doc_id"), split(col("t"), " ").as("ws"))
    val chunks = words.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(s"(size(ws) - 1) DIV $wordsPerPara").cast("int")),
          i => concat_ws(" ", slice(col("ws"), i * wordsPerPara + 1, lit(wordsPerPara))))))
      .select(col("doc_id"), col("pos").as("para_idx"), col("col").as("para"))
    val digests = chunks.select(col("doc_id"), col("para_idx"),
      length(col("para")).cast("long").as("n_chars"), md5(col("para")).as("sig"))
    val packed = col("doc_id") * lit(1000000L) + col("para_idx")
    // min-over-sig window, not groupBy+self-join: one exchange by sig
    // instead of a re-planned paragraph fan-out (same cut as the
    // rewrite leg, paragraphRewriteRaw)
    digests
      .withColumn("first_packed", min(packed).over(Window.partitionBy("sig")))
      .withColumn("is_dup", packed =!= col("first_packed"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paragraphs"),
        sum(col("is_dup").cast("long")).as("n_dup_paragraphs"),
        sum(when(col("is_dup"), col("n_chars")).otherwise(lit(0L))).as("chars_removed"))
      .withColumn("dup_share",
        col("n_dup_paragraphs").cast("double") / col("n_paragraphs").cast("double"))
      .where(col("n_dup_paragraphs") > 0)
      .select("doc_id", "n_paragraphs", "n_dup_paragraphs", "dup_share", "chars_removed")
      .orderBy("doc_id")
  }

  def paragraphDedupSql: String =
    s"""$corpusSql,
       |pnorm AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus),
       |pws AS (SELECT doc_id, string_split(t, ' ') AS w FROM pnorm),
       |paras AS (
       |  SELECT doc_id, i AS para_idx,
       |         array_to_string(w[i*12+1 : i*12+12], ' ') AS para
       |  FROM pws, unnest(generate_series(0, CAST((len(w)-1) // 12 AS INTEGER))) AS g(i)),
       |pd AS (
       |  SELECT doc_id, para_idx, CAST(length(para) AS BIGINT) AS n_chars, md5(para) AS sig
       |  FROM paras),
       |pf AS (SELECT sig, min(doc_id * 1000000 + para_idx) AS first_packed FROM pd GROUP BY sig)
       |SELECT pd.doc_id,
       |       count(*) AS n_paragraphs,
       |       CAST(sum(CASE WHEN pd.doc_id * 1000000 + pd.para_idx <> pf.first_packed
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paragraphs,
       |       CAST(sum(CASE WHEN pd.doc_id * 1000000 + pd.para_idx <> pf.first_packed
       |                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_share,
       |       CAST(sum(CASE WHEN pd.doc_id * 1000000 + pd.para_idx <> pf.first_packed
       |                     THEN pd.n_chars ELSE 0 END) AS BIGINT) AS chars_removed
       |FROM pd JOIN pf USING (sig)
       |GROUP BY pd.doc_id
       |HAVING sum(CASE WHEN pd.doc_id * 1000000 + pd.para_idx <> pf.first_packed
       |               THEN 1 ELSE 0 END) > 0
       |ORDER BY pd.doc_id""".stripMargin

  /** The rewrite leg of [[paragraphDedup]] — the actionable output a
    * training pipeline actually writes: for every AFFECTED document (at
    * least one duplicated paragraph) the reconstructed kept text, with
    * kept paragraphs re-joined in their original order. Bounded by the
    * duplicate population, never the corpus; the ordered reassembly is
    * an array_sort over per-doc collected (idx, para) structs — an
    * ObjectHashAggregate (collect shape), sorting only within one doc's
    * ≤~50 paragraphs, never a partition. */
  def paragraphRewrite(spark: SparkSession, dir: String, wordsPerPara: Int = 12): DataFrame =
    // collectAggGuard: the kept-paragraph lists are UNBOUNDED per-group
    // buffers (a whole document each) — re-size the hash-agg spill
    // threshold for this plan only; the session-wide raise is sized for
    // fixed-size argmax buffers.
    graft.Tables.collectAggGuard(paragraphRewriteRaw(spark, dir, wordsPerPara))

  /** [[paragraphRewrite]]'s plan without the guard rebind — split out so
    * the profile harness can attribute guard cost vs plan cost. */
  private[graft] def paragraphRewriteRaw(spark: SparkSession, dir: String,
      wordsPerPara: Int = 12): DataFrame = {
    val words = normCorpus(spark, dir).select(col("doc_id"), split(col("t"), " ").as("ws"))
    val chunks = words.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(s"(size(ws) - 1) DIV $wordsPerPara").cast("int")),
          i => concat_ws(" ", slice(col("ws"), i * wordsPerPara + 1, lit(wordsPerPara))))))
      .select(col("doc_id"), col("pos").as("para_idx"), col("col").as("para"))
    val digests = chunks.withColumn("sig", md5(col("para")))
    val packed = col("doc_id") * lit(1000000L) + col("para_idx")
    // min-over-sig window, not groupBy(sig)+self-join: one exchange by sig
    // marks every paragraph against its first occurrence. Then ONE per-doc
    // aggregation produces the dup count AND the kept list together —
    // collect_list skips the nulls the `when` leaves on duplicated rows,
    // which is exactly the old affected-join's WHERE NOT is_dup, minus two
    // exchanges and a join (3 exchanges total incl. the final sort, down
    // from 5 — this plan's cost was dominated by per-stage latency, not
    // data: ~25k paragraph rows at sf0.1). Same shape at 100 TB: both
    // exchanges key on bounded buckets (sig posting, one document).
    val flagged = digests.withColumn("first_packed",
        min(packed).over(Window.partitionBy("sig")))
      .withColumn("is_dup", packed =!= col("first_packed"))
    flagged.groupBy("doc_id")
      .agg(sum(col("is_dup").cast("long")).as("n_dup"),
        collect_list(when(!col("is_dup"), struct(col("para_idx"), col("para")))).as("kept"))
      // n_dup > 0 is the old `affected` semi-join; size(kept) > 0 mirrors
      // the old inner join dropping docs whose every paragraph was a dup
      .where(col("n_dup") > 0 && size(col("kept")) > 0)
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", transform(array_sort(col("kept")), k => k.getField("para"))).as("text_kept"))
      .withColumn("n_chars_kept", length(col("text_kept")).cast("long"))
      .orderBy("doc_id")
  }

  def paragraphRewriteSql: String =
    s"""$corpusSql,
       |pnorm AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus),
       |pws AS (SELECT doc_id, string_split(t, ' ') AS w FROM pnorm),
       |paras AS (
       |  SELECT doc_id, i AS para_idx,
       |         array_to_string(w[i*12+1 : i*12+12], ' ') AS para
       |  FROM pws, unnest(generate_series(0, CAST((len(w)-1) // 12 AS INTEGER))) AS g(i)),
       |pd AS (SELECT doc_id, para_idx, para, md5(para) AS sig FROM paras),
       |pf AS (SELECT sig, min(doc_id * 1000000 + para_idx) AS first_packed FROM pd GROUP BY sig),
       |flagged AS (
       |  SELECT pd.doc_id, pd.para_idx, pd.para,
       |         pd.doc_id * 1000000 + pd.para_idx <> pf.first_packed AS is_dup
       |  FROM pd JOIN pf USING (sig)),
       |affected AS (
       |  SELECT doc_id FROM flagged GROUP BY doc_id
       |  HAVING sum(CASE WHEN is_dup THEN 1 ELSE 0 END) > 0)
       |SELECT f.doc_id,
       |       count(*) AS n_kept,
       |       string_agg(f.para, ' ' ORDER BY f.para_idx) AS text_kept,
       |       CAST(length(string_agg(f.para, ' ' ORDER BY f.para_idx)) AS BIGINT) AS n_chars_kept
       |FROM flagged f JOIN affected a USING (doc_id)
       |WHERE NOT f.is_dup
       |GROUP BY f.doc_id
       |ORDER BY f.doc_id""".stripMargin

  /** Shingle document-frequency histogram — the corpus property that
    * decides exact-blocking density (SCALE_r11's guidance made
    * measurable): per df order-of-magnitude (digit count of df — the
    * engine-identical integer-formatting bucket trick) the distinct
    * shingle count, total posting mass Σdf, and each mass share. A corpus
    * whose mass sits in the 3+-digit buckets has a CLOSED vocabulary —
    * rarest-first prefixes will still probe hot postings, so route
    * containment to the approximate band path or lengthen the blocking
    * shingle; mass in the 1-digit bucket means the prefix filter is
    * output-sensitive and near-linear.
    *
    * Scale shape: one linear token explode, a map-side-combined df count,
    * a ≤~10-key digit rollup; shares against a 1-row broadcast total. */
  def shingleDfHist(spark: SparkSession, dir: String): DataFrame = {
    val toks = normCorpus(spark, dir).select(col("doc_id"),
        explode(array_distinct(transform(shingleCol(col("t")),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val hist = dfreq
      .select(length(col("df").cast("string")).cast("long").as("df_digits"), col("df"))
      .groupBy("df_digits")
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("posting_mass"))
    // totals as windows over the ≤~10-row digit rollup, NOT
    // crossJoin(broadcast(hist.agg(...))) — the unshared `hist` fed both
    // sides, planning the whole shingle fan-out twice (the
    // mm_phash_hamming_hist fix, applied here; same global-window
    // boundedness class, allowlisted)
    val wAll = Window.partitionBy(lit(1))
    hist
      .withColumn("tot_sh", sum(col("n_shingles")).over(wAll))
      .withColumn("tot_mass", sum(col("posting_mass")).over(wAll))
      .select(col("df_digits"), col("n_shingles"), col("posting_mass"),
        (col("n_shingles").cast("double") / col("tot_sh").cast("double")).as("shingle_share"),
        (col("posting_mass").cast("double") / col("tot_mass").cast("double")).as("mass_share"))
      .orderBy("df_digits")
  }

  def shingleDfHistSql: String =
    s"""$sigsCte,
       |toks AS (SELECT doc_id, unnest(hsh) AS tok FROM sh),
       |dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
       |hist AS (
       |  SELECT CAST(length(CAST(df AS VARCHAR)) AS BIGINT) AS df_digits,
       |         count(*) AS n_shingles,
       |         CAST(sum(df) AS BIGINT) AS posting_mass
       |  FROM dfreq GROUP BY 1),
       |tot AS (SELECT sum(n_shingles) AS tot_sh, sum(posting_mass) AS tot_mass FROM hist)
       |SELECT df_digits, n_shingles, posting_mass,
       |       CAST(n_shingles AS DOUBLE) / CAST(tot_sh AS DOUBLE) AS shingle_share,
       |       CAST(posting_mass AS DOUBLE) / CAST(tot_mass AS DOUBLE) AS mass_share
       |FROM hist, tot ORDER BY df_digits""".stripMargin

  /** Blocking-scheme decision panel — the three candidate generators the
    * dedup family can block with, priced on THIS corpus in one pass each:
    * per scheme the key count, the hottest key's occupancy, and the
    * candidate workload it would emit (closed forms — Σ df−1 probe hits
    * for the prefix filter, Σ sz·(sz−1)/2 per bucket for the bandings;
    * never a materialized pair join). Read next to [[shingleDfHist]]
    * before a dedup campaign: prefix_filter is exact (lossless for
    * containment ≥0.9), band_4x4 is the ~Jaccard-0.6 recall curve,
    * band_16x1 the high-recall flood — the cheapest scheme whose recall
    * contract fits wins.
    *
    * Scale shape: three linear explodes over memoized builds, each
    * collapsed by a map-side-combined aggregation; 3-row output. */
  def blockingHealth(spark: SparkSession, dir: String): DataFrame = {
    // pinned (r19, guide §2.4; interleaved A/B 2.13 → 1.59 s at sf0.1):
    // `toks` below is referenced TWICE (the dfreq rollup and the join's
    // probe side), and Catalyst re-derives the shingle + md5-digest
    // fan-out — the branch's dominant per-row cost — once per reference.
    // Pinning the ≤|docs|-row digest-array table materializes that work
    // once; the explode re-runs per reference but is cheap.
    // Order-independence: every consumer aggregates or windows on
    // explicit keys.
    val digests = graft.Tables.pin(normCorpus(spark, dir).select(col("doc_id"),
      array_distinct(transform(shingleCol(col("t")),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("sh")))
    val toks = digests.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy("df", "tok")
    val pfx = toks.join(dfreq, "tok")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= col("n") - expr("(9 * n + 9) DIV 10") + lit(1))
    val prefixRow = pfx.agg(
      countDistinct(col("tok")).as("n_keys"),
      max(col("df")).as("max_occupancy"),
      sum(col("df") - 1).as("n_emitted"))
      .select(lit("prefix_filter").as("scheme"), col("n_keys"),
        col("max_occupancy"), col("n_emitted"))
    def bandRow(name: String, banded: DataFrame, keys: Seq[String]): DataFrame =
      banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_keys"), max(col("sz")).as("max_occupancy"),
          sum(expr("sz * (sz - 1) DIV 2")).as("n_emitted"))
        .select(lit(name).as("scheme"), col("n_keys"),
          col("max_occupancy"), col("n_emitted"))
    val sigs = signatures(spark, dir)
    val b4 = bandsFromSigs(sigs)
    val b1 = sigs.select(col("doc_id"), explode(array((0 until 16).map(i =>
        struct(lit(i).as("band_id"), col(s"sig$i").cast("string").as("band_key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band_id").as("band_id"), col("bk.band_key").as("band_key"))
    prefixRow
      .unionAll(bandRow("band_4x4", b4, Seq("band_id", "band_key")))
      .unionAll(bandRow("band_16x1", b1, Seq("band_id", "band_key")))
      .orderBy("scheme")
  }

  def blockingHealthSql: String = {
    val band4 = (0 until 4).map { b =>
      val cat = (0 until 4).map(r => s"CAST(sig${b * 4 + r} AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band_id, md5($cat) AS band_key FROM sigs"
    }.mkString("\n  UNION ALL ")
    val band1 = (0 until 16).map { i =>
      s"SELECT doc_id, $i AS band_id, CAST(sig$i AS VARCHAR) AS band_key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""$sigsCte,
       |toks AS (SELECT doc_id, len(hsh) AS n, unnest(hsh) AS tok FROM sh),
       |dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
       |pfx AS (
       |  SELECT doc_id, tok, df FROM (
       |    SELECT t.doc_id, t.tok, d.df, t.n,
       |           row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rk
       |    FROM toks t JOIN dfreq d USING (tok))
       |  WHERE rk <= n - (9 * n + 9) // 10 + 1),
       |wb4 AS ($band4),
       |wb1 AS ($band1),
       |rows_out AS (
       |  SELECT 'prefix_filter' AS scheme,
       |         CAST(count(DISTINCT tok) AS BIGINT) AS n_keys,
       |         CAST(max(df) AS BIGINT) AS max_occupancy,
       |         CAST(sum(df - 1) AS BIGINT) AS n_emitted
       |  FROM pfx
       |  UNION ALL
       |  SELECT 'band_4x4', CAST(count(*) AS BIGINT), CAST(max(sz) AS BIGINT),
       |         CAST(sum(sz * (sz - 1) // 2) AS BIGINT)
       |  FROM (SELECT band_id, band_key, count(*) AS sz FROM wb4 GROUP BY 1, 2)
       |  UNION ALL
       |  SELECT 'band_16x1', CAST(count(*) AS BIGINT), CAST(max(sz) AS BIGINT),
       |         CAST(sum(sz * (sz - 1) // 2) AS BIGINT)
       |  FROM (SELECT band_id, band_key, count(*) AS sz FROM wb1 GROUP BY 1, 2))
       |SELECT scheme, n_keys, max_occupancy, n_emitted
       |FROM rows_out ORDER BY scheme""".stripMargin
  }

  /** Oracle: brute-force all-pairs containment — legitimate ONLY because
    * the prefix filter is lossless, so the filtered brute-force output IS
    * the operator's output (the old banded oracle shared LSH's false
    * negatives with the Spark side; this one shares nothing). */
  def containmentSql: String =
    s"""$sigsCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(len(list_intersect(a.hsh, b.hsh)) AS BIGINT) AS n_common,
       |       CAST(len(a.hsh) AS BIGINT) AS n_a,
       |       CAST(len(b.hsh) AS BIGINT) AS n_b,
       |       CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE)
       |         / CAST(least(len(a.hsh), len(b.hsh)) AS DOUBLE) AS containment
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE)
       |        / CAST(least(len(a.hsh), len(b.hsh)) AS DOUBLE) >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  /** Near-dup clustering: connected components over the verified minhash
    * pairs via min-label propagation RUN TO FIXPOINT (the r11 default of
    * exactly 3 rounds silently under-merged any >3-hop chain — common in
    * crawl data where each scrape drifts a little; now a chain of any
    * diameter converges, a diameter > 25 graph FAILS loudly, and the
    * oracle is the same fixpoint via a recursive CTE). The canonical
    * survivor per cluster is its minimum doc id — the "keep one copy"
    * step of a dedup pipeline. [[clusterLargeStar]] remains the
    * O(log n)-round 100 TB path for high-diameter graphs; this per-round
    * O(diameter) form stays the default because LSH graphs are
    * small-diameter and each round here is one tiny broadcast join. */
  def cluster(spark: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(spark, dir)
      .where(col("jaccard") >= 0.6).select(col("id_a"), col("id_b"))
    val edges = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val ids = normCorpus(spark, dir).select(col("doc_id"))
    // bounded memo, not a bare cache: referenced twice below AND by
    // pipe_dedup_keep_best's second cluster() call; a raw .cache() here
    // leaked one cached plan per invocation per dir
    val labels = labelsCache(spark, dir)(propagateLabels(ids, edges))
    val sizes = labels.groupBy(col("label").as("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("doc_id"), col("label").as("canonical_id"))
      .join(sizes, "canonical_id")
      .where(col("cluster_size") > 1)
      .select("doc_id", "canonical_id", "cluster_size")
      .orderBy("canonical_id", "doc_id")
  }

  /** Min-label propagation to FIXPOINT over an arbitrary symmetric edge
    * list — the engine behind [[cluster]], exposed so specs can feed
    * adversarial shapes (long chains). Per round: one key-partitioned
    * neighbor-min aggregation + a left join back, labels checkpointed per
    * round (truncates the unrolled lineage); convergence = zero labels
    * moved, checked off the SAME checkpointed round table the next round
    * reads (no extra pass). Refuses (require) rather than returning a
    * silently under-merged labeling when maxRounds < component diameter. */
  private[graft] def propagateLabels(
      ids: DataFrame, edges: DataFrame, maxRounds: Int = 25): DataFrame = {
    var labels = Tables.pin(ids.select(col("doc_id"), col("doc_id").as("label")))
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("doc_id", "id_b"), "id_b")
        .groupBy(col("id_a").as("doc_id"))
        .agg(min(col("label")).as("nbr_label"))
      val joined = Tables.pin(labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label"),
          coalesce(col("nbr_label"), col("label")).as("cand")))
      converged = joined.where(col("cand") < col("label")).isEmpty
      labels = joined.select(col("doc_id"),
        least(col("label"), col("cand")).as("label"))
      round += 1
    }
    if (!converged) {
      // The loop's convergence flag trails by one round: a component whose
      // diameter EQUALS maxRounds moves labels on the final round (flagging
      // non-convergence) yet has reached fixpoint. One extra check — a
      // neighbor-min pass with no label update — confirms or refutes that
      // before refusing, so the require matches the docstring's
      // "diameter > maxRounds" bound exactly.
      val nbrMin = edges
        .join(labels.withColumnRenamed("doc_id", "id_b"), "id_b")
        .groupBy(col("id_a").as("doc_id"))
        .agg(min(col("label")).as("nbr_label"))
      converged = labels.join(nbrMin, Seq("doc_id"), "left")
        .where(coalesce(col("nbr_label"), col("label")) < col("label")).isEmpty
    }
    require(converged,
      s"label propagation did not converge in $maxRounds rounds — " +
        "component diameter exceeds maxRounds; raise it or use clusterLargeStar")
    labels
  }

  /** Shared CTE chain ending in `lbl(doc_id, label)` + `sizes(canonical_id,
    * cluster_size)` — label propagation to FIXPOINT via a recursive CTE
    * (`reach` enumerates every (doc, reachable doc-id) pair, the min is
    * the component minimum), mirroring the Spark loop's fixpoint
    * semantics for ANY component diameter. Callers must wrap the final
    * statement in [[withRecursive]]. Reused by [[clusterSql]],
    * [[keepBestSql]] and [[componentStatsSql]]. */
  private def clusterCte: String =
    s"""$minhashPairsCte,
       |pairs AS (
       |  SELECT id_a, id_b FROM verified
       |  WHERE CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.6),
       |edges AS (
       |  SELECT id_a, id_b FROM pairs
       |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
       |reach AS (
       |  SELECT doc_id, doc_id AS label FROM corpus
       |  UNION
       |  SELECT e.id_a AS doc_id, r.label
       |  FROM reach r JOIN edges e ON e.id_b = r.doc_id),
       |lbl AS (SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id),
       |sizes AS (
       |  SELECT label AS canonical_id, count(*) AS cluster_size FROM lbl GROUP BY label)"""
      .stripMargin

  /** DuckDB requires the RECURSIVE keyword on the WHOLE with-list when any
    * member is recursive; non-recursive members are unaffected. */
  private def withRecursive(sql: String): String =
    if (sql.startsWith("WITH RECURSIVE")) sql
    else sql.replaceFirst("^WITH ", "WITH RECURSIVE ")

  def clusterSql: String = withRecursive(
    s"""$clusterCte
       |SELECT lbl.doc_id, lbl.label AS canonical_id, s.cluster_size
       |FROM lbl JOIN sizes s ON lbl.label = s.canonical_id
       |WHERE s.cluster_size > 1
       |ORDER BY canonical_id, doc_id""".stripMargin)

  /** Cluster-representative selection: among each near-dup cluster's
    * members, KEEP the highest-quality document (quality-score argmax,
    * doc_id ascending on ties) instead of the blind min-id survivor —
    * the "keep best, not first" step of a training-data dedup pipeline.
    * Membership comes from [[cluster]]; the score is the text module's
    * quality formula over the same injected-dup corpus.
    *
    * Scale shape: cluster output is |dup members| rows; the score join
    * is per-doc (no fan-out) and the rank window partitions on the
    * cluster id — everything downstream of the shared LSH build is
    * proportional to the duplicate population, never the corpus. */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val members = cluster(spark, dir)
    val scores = TextFunctions.qualityScore(corpus(spark, dir))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canonical_id").orderBy(col("quality_score").desc, col("doc_id"))
    members.join(scores, "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy("canonical_id")
      .agg(
        max(col("cluster_size")).as("n_members"),
        min(when(col("rk") === 1, col("doc_id"))).as("kept_doc"),
        min(when(col("rk") === 1, col("quality_score"))).as("kept_score"))
      .withColumn("n_dropped", col("n_members") - lit(1L))
      .orderBy("canonical_id")
  }

  def keepBestSql: String = withRecursive(
    s"""$clusterCte,
       |members AS (
       |  SELECT lbl.doc_id, lbl.label AS canonical_id, s.cluster_size
       |  FROM lbl JOIN sizes s ON lbl.label = s.canonical_id
       |  WHERE s.cluster_size > 1),
       |qf AS (
       |  SELECT doc_id,
       |         string_split_regex(lower(trim(text)), '\\s+') AS words,
       |         CAST(length(text) AS DOUBLE) AS nchars,
       |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS npunct
       |  FROM corpus),
       |qg AS (
       |  SELECT doc_id, nchars, npunct,
       |         CAST(len(words) AS DOUBLE) AS nwords,
       |         CAST(len(list_filter(words, w -> w IN (${TextFunctions.stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) AS nstop
       |  FROM qf),
       |scores AS (
       |  SELECT doc_id,
       |         (nstop / nwords) * 2.0 - (npunct / nchars) * 0.5 +
       |           CASE WHEN nwords >= 10.0 THEN 1.0 ELSE 0.0 END AS quality_score
       |  FROM qg),
       |ranked AS (
       |  SELECT m.canonical_id, m.doc_id, m.cluster_size, sc.quality_score,
       |         row_number() OVER (PARTITION BY m.canonical_id
       |                            ORDER BY sc.quality_score DESC, m.doc_id) AS rk
       |  FROM members m JOIN scores sc ON m.doc_id = sc.doc_id)
       |SELECT canonical_id,
       |       CAST(max(cluster_size) AS BIGINT) AS n_members,
       |       min(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc,
       |       min(CASE WHEN rk = 1 THEN quality_score END) AS kept_score,
       |       CAST(max(cluster_size) AS BIGINT) - 1 AS n_dropped
       |FROM ranked GROUP BY canonical_id ORDER BY canonical_id""".stripMargin)

  /** MinHash estimator accuracy: for every LSH-verified candidate pair,
    * the Jaccard ESTIMATE from signature agreement (matching permutations
    * / 16) next to the exact shingle Jaccard and the absolute error —
    * the calibration table that justifies trusting the sketch at scales
    * where exact verification is unaffordable. Reuses the cached
    * signature table; the estimate is integer-count arithmetic. */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val sigs = signatures(spark, dir)
    val sa = sigs.columns.filter(_.startsWith("sig"))
      .foldLeft(sigs)((d, c) => d.withColumnRenamed(c, c + "_a"))
      .withColumnRenamed("doc_id", "id_a")
    val sb = sigs.columns.filter(_.startsWith("sig"))
      .foldLeft(sigs)((d, c) => d.withColumnRenamed(c, c + "_b"))
      .withColumnRenamed("doc_id", "id_b")
    val matches = (0 until 16)
      .map(i => when(col(s"sig${i}_a") === col(s"sig${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    verifiedPairs(spark, dir)
      .select("id_a", "id_b", "jaccard")
      .join(sa, "id_a").join(sb, "id_b")
      .select(
        col("id_a"), col("id_b"),
        (matches.cast("double") / 16.0).as("est_jaccard"),
        col("jaccard"),
        abs(matches.cast("double") / 16.0 - col("jaccard")).as("abs_err"))
      .orderBy("id_a", "id_b")
  }

  def minhashAccuracySql: String = {
    val matches = (0 until 16)
      .map(i => s"CASE WHEN sa.sig$i = sb.sig$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$minhashPairsCte
       |SELECT v.id_a, v.id_b,
       |       CAST($matches AS DOUBLE) / 16.0 AS est_jaccard,
       |       CAST(v.n_common AS DOUBLE) / CAST(v.n_union AS DOUBLE) AS jaccard,
       |       abs(CAST($matches AS DOUBLE) / 16.0
       |         - CAST(v.n_common AS DOUBLE) / CAST(v.n_union AS DOUBLE)) AS abs_err
       |FROM verified v
       |JOIN sigs sa ON v.id_a = sa.doc_id
       |JOIN sigs sb ON v.id_b = sb.doc_id
       |ORDER BY v.id_a, v.id_b""".stripMargin
  }

  /** Benchmark-contamination check: which training documents are exact
    * (normalized) copies of held-out benchmark documents — the eval-
    * integrity scan an LLM pipeline runs before training. Benchmark =
    * every 50th original document; train = everything else including the
    * injected copies, so contamination provably exists and is found. One
    * digest join (the benchmark side is small and broadcasts); output is
    * a single summary row. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val sigs = normCorpus(spark, dir).select(col("doc_id"), md5(col("t")).as("sig"))
    val isBench = col("doc_id") % 50 === 0 && col("doc_id") < 1000000L
    val bench = sigs.where(isBench).select(col("sig"), col("doc_id").as("bench_id"))
    val train = sigs.where(!isBench).select(col("sig"), col("doc_id").as("train_id"))
    // plain digest join — the benchmark side is |corpus|/50, unbounded at
    // lake scale; AQE broadcasts it at runtime when it actually fits
    val hits = train.join(bench, "sig")
    val nBench = bench.agg(count(lit(1)).as("n_benchmark"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val nHits = hits.agg(
      countDistinct(col("train_id")).as("n_contaminated"),
      countDistinct(col("bench_id")).as("n_affected_bench"))
    nBench.crossJoin(nTrain).crossJoin(nHits)
  }

  def contaminationSql: String =
    s"""$corpusSql,
       |norm2 AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus),
       |sigs AS (SELECT doc_id, md5(t) AS sig FROM norm2),
       |bench AS (SELECT sig, doc_id FROM sigs WHERE doc_id % 50 = 0 AND doc_id < 1000000),
       |train AS (SELECT sig, doc_id FROM sigs WHERE NOT (doc_id % 50 = 0 AND doc_id < 1000000)),
       |hits AS (SELECT t.doc_id AS train_id, b.doc_id AS bench_id
       |         FROM train t JOIN bench b USING (sig))
       |SELECT (SELECT count(*) FROM bench) AS n_benchmark,
       |       (SELECT count(*) FROM train) AS n_train,
       |       (SELECT count(DISTINCT train_id) FROM hits) AS n_contaminated,
       |       (SELECT count(DISTINCT bench_id) FROM hits) AS n_affected_bench""".stripMargin

  /** SimHash blocking parameters — Manku, Das, Garg & Sarma, "Detecting
    * Near-Duplicates for Web Crawling" (WWW 2007), §3: to find all pairs
    * within Hamming distance k of an f-bit fingerprint, split it into b
    * blocks and build a table per combination of (b-k) blocks — a
    * qualifying pair has ≤ k dirty blocks, so ≥ b-k clean ones, so at
    * least one table's whole key is clean (pigeonhole) and the pair
    * collides there. Here f = 8×16 = 128 (the full token md5), k = 6,
    * tables = all C(8,2) = 28 block PAIRS: exact recall at Hamming ≤ 6
    * with 32-bit table keys. The wide key is the scale story — random
    * (non-dup) collisions run at n²/2³² per table instead of the
    * n²/256 of the old single-byte bands, so candidate volume tracks
    * actual near-dup density deep into lake-scale corpus sizes. */
  private val simhashBlocks = 8
  private val simhashBlockBits = 16
  /** The 28 (i,j) block pairs, i<j, in table order. */
  private val simhashTables: Seq[(Int, Int)] =
    for (i <- 0 until simhashBlocks; j <- i + 1 until simhashBlocks) yield (i, j)

  /** 128-bit SimHash fingerprints of a normalized corpus (`doc_id`, `t`):
    * per-bit majority vote over the token md5s, block b = hex chars
    * [4b+1, 4b+4] → columns fp0..fp7 of 16 bits each. */
  private def simhashFingerprintsOf(norm: DataFrame): DataFrame = {
    val toks = norm
      .select(col("doc_id"), explode(split(col("t"), " ")).as("tok"))
      .select(col("doc_id") +: (0 until simhashBlocks).map { b =>
        conv(substring(md5(col("tok")), 4 * b + 1, 4), 16, 10).cast("long").as(s"h$b")
      }: _*)
    val bitSums = for (b <- 0 until simhashBlocks; j <- 0 until simhashBlockBits) yield
      sum(when(shiftright(col(s"h$b"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s${b}_$j")
    val fpCols = (0 until simhashBlocks).map { b =>
      (0 until simhashBlockBits).map { j =>
        when(col(s"s${b}_$j") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"fp$b")
    }
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id") +: fpCols: _*)
  }

  def simhashFingerprints(spark: SparkSession, dir: String): DataFrame =
    simhashFpCache(spark, dir)(simhashFingerprintsOf(normCorpus(spark, dir)))
    // memoized (bounded, unpersists on dir eviction): both self-join sides

  /** Banded candidate pairs over the fingerprints, BEFORE the Hamming
    * verify: explode each doc into its 28 (table, fp_i·2¹⁶+fp_j) keys,
    * self-join on the key, dedup (id_a, id_b). Separate from the verify
    * so SimhashPropertySpec and ScaleSwitchSpec can check raw candidates. */
  private[graft] def simhashCandidates(fps: DataFrame): DataFrame = {
    val fpNames = (0 until simhashBlocks).map(b => s"fp$b")
    val banded = fps
      .select(col("doc_id") +: fpNames.map(col) :+
        explode(array(simhashTables.zipWithIndex.map { case ((i, j), t) =>
          struct(lit(t).as("band_id"),
            (col(s"fp$i") * lit(65536L) + col(s"fp$j")).as("band_val"))
        }: _*)).as("bk"): _*)
      .select(col("doc_id") +: fpNames.map(col) :+
        col("bk.band_id").as("band_id") :+ col("bk.band_val").as("band_val"): _*)
    val l = banded.select(col("band_id") +: col("band_val") +:
      col("doc_id").as("id_a") +: fpNames.map(n => col(n).as(n + "_a")): _*)
    val r = banded.select(col("band_id") +: col("band_val") +:
      col("doc_id").as("id_b") +: fpNames.map(n => col(n).as(n + "_b")): _*)
    l.join(r, Seq("band_id", "band_val"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a") +: col("id_b") +:
        fpNames.flatMap(n => Seq(col(n + "_a"), col(n + "_b"))): _*)
      .dropDuplicates("id_a", "id_b")
  }

  /** Banded near-dup pairing: [[simhashCandidates]] verified at
    * full-fingerprint Hamming ≤ 6 (8 xor+popcounts per candidate).
    * Recall is exact by the pigeonhole argument above; the spec
    * brute-force-checks it on the small corpus. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val fpNames = (0 until simhashBlocks).map(b => s"fp$b")
    // fused native XOR+popcount (graft.functions.Hamming64) — one
    // intrinsic per block instead of two chained expressions; oracle
    // stays bit_count(xor(...)), outputs bit-identical by construction
    val hammingExpr = fpNames.map { n =>
      expr(s"graft_hamming64(${n}_a, ${n}_b)")
    }.reduce(_ + _).cast("long")
    simhashCandidates(simhashFingerprints(spark, dir))
      .withColumn("hamming", hammingExpr)
      .where(col("hamming") <= 6)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** Shared CTE chain ending in `fps(doc_id, fp0..fp7)` — the DuckDB
    * twin of [[simhashFingerprintsOf]], factored so the pairing oracle
    * and the table-stats oracle stay in lockstep. */
  private def simhashFpsCte: String = {
    val hCols = (0 until simhashBlocks).map { b =>
      s"CAST('0x' || substr(md5(tok), ${4 * b + 1}, 4) AS BIGINT) AS h$b"
    }.mkString(",\n         ")
    val bitSums = (for (b <- 0 until simhashBlocks; j <- 0 until simhashBlockBits) yield
      s"sum(CASE WHEN (h$b >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s${b}_$j"
    ).mkString(",\n         ")
    val fpCols = (0 until simhashBlocks).map { b =>
      (0 until simhashBlockBits).map(j => s"CASE WHEN s${b}_$j > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ") + s" AS fp$b"
    }.mkString(",\n         ")
    s"""$corpusSql,
       |toks AS (
       |  SELECT doc_id,
       |         $hCols
       |  FROM (SELECT doc_id,
       |               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
       |        FROM corpus)),
       |sums AS (
       |  SELECT doc_id,
       |         $bitSums
       |  FROM toks GROUP BY doc_id),
       |fps AS (
       |  SELECT doc_id, $fpCols FROM sums)""".stripMargin
  }

  /** The 28 two-block band selects over `fps` (fpList columns carried
    * through when `withFps` — the pairing oracle needs them for the
    * Hamming verify; the stats oracle does not). */
  private def simhashBandSelects(withFps: Boolean): String = {
    val fpList = (0 until simhashBlocks).map(b => s"fp$b").mkString(", ")
    val carry = if (withFps) s"$fpList, " else ""
    simhashTables.zipWithIndex.map { case ((i, j), t) =>
      s"SELECT doc_id, $carry$t AS band_id, CAST(fp$i AS BIGINT) * 65536 + fp$j AS band_val FROM fps"
    }.mkString("\n  UNION ALL ")
  }

  def simhashSql: String = {
    val abList = (0 until simhashBlocks)
      .map(b => s"a.fp$b AS fp${b}_a, b.fp$b AS fp${b}_b").mkString(", ")
    val hamming = (0 until simhashBlocks)
      .map(b => s"bit_count(xor(fp${b}_a, fp${b}_b))").mkString(" + ")
    s"""$simhashFpsCte,
       |banded AS (
       |  ${simhashBandSelects(withFps = true)}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, $abList
       |  FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST($hamming AS BIGINT) AS hamming
       |FROM pairs WHERE $hamming <= 6
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Prefix-duplicate groups: documents sharing the digest of their first
    * `prefixLen` normalized characters while differing in the full digest
    * — truncations, expansions, and append-edited variants, caught by ONE
    * cheap hash-groupBy where full containment pays a banded signature
    * join. The common crawl shape this targets: the same article
    * truncated at different scrape depths. Groups that are pure exact
    * duplicates (one full digest) are excluded — those belong to
    * `dedup_exact`. The corpus loader's injected %11 truncations make
    * real finds provable. */
  def exactPrefix(spark: SparkSession, dir: String, prefixLen: Int = 100): DataFrame =
    normCorpus(spark, dir)
      .select(col("doc_id"),
        md5(substring(col("t"), 1, prefixLen)).as("prefix_sig"),
        md5(col("t")).as("sig"),
        length(col("t")).cast("long").as("n_chars"))
      .groupBy("prefix_sig")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("sig")).as("n_variants"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        min(col("doc_id")).as("canonical_doc"))
      .where(col("n_docs") > 1 && col("n_variants") > 1)
      .orderBy("prefix_sig")

  def exactPrefixSql(prefixLen: Int = 100): String =
    s"""$corpusSql,
       |norm2 AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus),
       |sigs2 AS (
       |  SELECT doc_id, md5(substr(t, 1, $prefixLen)) AS prefix_sig, md5(t) AS sig,
       |         CAST(length(t) AS BIGINT) AS n_chars
       |  FROM norm2)
       |SELECT prefix_sig, count(*) AS n_docs,
       |       count(DISTINCT sig) AS n_variants,
       |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       |       min(doc_id) AS canonical_doc
       |FROM sigs2 GROUP BY prefix_sig
       |HAVING count(*) > 1 AND count(DISTINCT sig) > 1
       |ORDER BY prefix_sig""".stripMargin

  /** Hamming-distance histogram over the banded SimHash candidates — the
    * threshold-calibration twin of `dedup_threshold_curve` for the Manku
    * blocking: how candidate pairs distribute across full-fingerprint
    * Hamming distance (each rung 0–6 individually — the zone the
    * pigeonhole guarantee covers — then the 7–15 and 16+ reject bands).
    * Read BEFORE changing the verify threshold: the 0–6 mass is what a
    * threshold move would admit or drop, the reject mass is pure verify
    * cost the banding let through. Reuses the memoized fingerprints and
    * the same candidate build as `dedup_simhash`; one extra aggregation
    * on ≤9 bucket rows. */
  def simhashDistanceHist(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val fpNames = (0 until simhashBlocks).map(b => s"fp$b")
    val hammingExpr = fpNames.map { n =>
      expr(s"graft_hamming64(${n}_a, ${n}_b)")
    }.reduce(_ + _).cast("long")
    val hist = simhashCandidates(simhashFingerprints(spark, dir))
      .withColumn("hamming", hammingExpr)
      .select(
        when(col("hamming") <= 6, lpad(col("hamming").cast("string"), 2, "0"))
          .when(col("hamming") <= 15, lit("07_15"))
          .otherwise(lit("16_plus")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    // total as a window over the ≤9-bucket hist — the
    // crossJoin(broadcast(hist.agg)) form planned the candidate join +
    // hamming subtree twice (the mm_phash_hamming_hist fix)
    hist
      .withColumn("total", sum(col("n_pairs")).over(Window.partitionBy(lit(1))))
      .select(col("bucket"), col("n_pairs"),
        (col("n_pairs").cast("double") / col("total").cast("double")).as("share"))
      .orderBy("bucket")
  }

  def simhashDistanceHistSql: String = {
    val abList = (0 until simhashBlocks)
      .map(b => s"a.fp$b AS fp${b}_a, b.fp$b AS fp${b}_b").mkString(", ")
    val hamming = (0 until simhashBlocks)
      .map(b => s"bit_count(xor(fp${b}_a, fp${b}_b))").mkString(" + ")
    s"""$simhashFpsCte,
       |banded AS (
       |  ${simhashBandSelects(withFps = true)}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, $abList
       |  FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
       |  WHERE a.doc_id < b.doc_id),
       |bucketed AS (
       |  SELECT CASE WHEN $hamming <= 6 THEN lpad(CAST($hamming AS VARCHAR), 2, '0')
       |              WHEN $hamming <= 15 THEN '07_15' ELSE '16_plus' END AS bucket
       |  FROM pairs),
       |hist AS (SELECT bucket, count(*) AS n_pairs FROM bucketed GROUP BY bucket),
       |tot AS (SELECT sum(n_pairs) AS total FROM hist)
       |SELECT bucket, CAST(n_pairs AS BIGINT) AS n_pairs,
       |       CAST(n_pairs AS DOUBLE) / CAST(total AS DOUBLE) AS share
       |FROM hist, tot ORDER BY bucket""".stripMargin
  }

  /** Sequential dedup-campaign plan ("the waterfall"): what each stage
    * of the standard dedup ladder — exact (md5 groups) → near-dup
    * clustering (Jaccard ≥ 0.6 components, keep min-id) → containment
    * (≥ 0.9, drop the contained/shorter side) — would remove from THIS
    * corpus, applied in order so each stage is charged only documents
    * the earlier stages left alive. One row per stage: docs removed,
    * normalized chars reclaimed, survivors remaining. This is the
    * campaign plan a curator signs off before the destructive passes
    * run, with the cost of each rung priced separately.
    *
    * Scale shape: every stage reads a shared memoized build (norm
    * digest groups, cluster labels, containment pairs) — the waterfall
    * adds only anti-joins over the removed-doc populations and
    * single-row scalar aggregates (broadcast, structurally bounded). */
  def dedupWaterfall(spark: SparkSession, dir: String): DataFrame = {
    // "first stage wins" as a MIN over stage tags rather than a chain of
    // anti-joins: the anti-join form re-evaluated each removal set once
    // per downstream use (removed1 three times, the cluster filter
    // twice — measured ~2× the whole operator), while the union +
    // per-doc min computes every base exactly once. Semantics are
    // identical: a doc removed by several rungs is charged to the
    // earliest.
    val lens = normCorpus(spark, dir)
      .select(col("doc_id"), length(col("t")).cast("long").as("n_chars"))
    val nc = normCorpus(spark, dir).select(col("doc_id"), md5(col("t")).as("sig"))
    val exg = nc.groupBy("sig").agg(min(col("doc_id")).as("keep"), count(lit(1)).as("c"))
    val r1 = nc.join(exg, "sig")
      .where(col("c") > 1 && col("doc_id") =!= col("keep"))
      .select(col("doc_id"), lit(1).as("stage"))
    val r2 = cluster(spark, dir)
      .where(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"), lit(2).as("stage"))
    val r3 = containment(spark, dir)
      .select(when(col("n_a") < col("n_b"), col("id_a"))
        .when(col("n_b") < col("n_a"), col("id_b"))
        .otherwise(col("id_b")).as("doc_id"), lit(3).as("stage"))
    val firstStage = r1.unionAll(r2).unionAll(r3)
      .groupBy("doc_id").agg(min(col("stage")).as("stage"))
    // one UNGROUPED conditional aggregate (bounded — audit-safe as a
    // broadcast side) carries all six stage counters in a single row
    def n(s: Int) = sum(when(col("stage") === s, 1L).otherwise(0L))
    def ch(s: Int) = sum(when(col("stage") === s, col("n_chars")).otherwise(0L))
    val stats = firstStage.join(lens, "doc_id")
      .agg(n(1).as("n1"), ch(1).as("c1"), n(2).as("n2"), ch(2).as("c2"),
        n(3).as("n3"), ch(3).as("c3"))
    val total = normCorpus(spark, dir).agg(count(lit(1)).as("total"))
    stats.crossJoin(broadcast(total))
      .select(explode(array(
        struct(lit("1_exact").as("stage"), col("n1").as("n_removed"),
          col("c1").as("chars_removed"), (col("total") - col("n1")).as("survivors")),
        struct(lit("2_near_dup").as("stage"), col("n2").as("n_removed"),
          col("c2").as("chars_removed"),
          (col("total") - col("n1") - col("n2")).as("survivors")),
        struct(lit("3_containment").as("stage"), col("n3").as("n_removed"),
          col("c3").as("chars_removed"),
          (col("total") - col("n1") - col("n2") - col("n3")).as("survivors")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.n_removed").as("n_removed"),
        col("s.chars_removed").as("chars_removed"), col("s.survivors").as("survivors"))
      .orderBy("stage")
  }

  def dedupWaterfallSql: String = withRecursive {
    val band4 = (0 until 4).map { b =>
      val cat = (0 until 4).map(r => s"CAST(sig${b * 4 + r} AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band_id, md5($cat) AS band_key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""$sigsCte,
       |lens AS (SELECT doc_id, length(t) AS n_chars FROM norm),
       |ex AS (SELECT doc_id, md5(t) AS sig FROM norm),
       |exg AS (SELECT sig, min(doc_id) AS keep, count(*) AS c FROM ex GROUP BY sig),
       |removed1 AS (
       |  SELECT e.doc_id FROM ex e JOIN exg g USING (sig)
       |  WHERE g.c > 1 AND e.doc_id <> g.keep),
       |wband4 AS (
       |  $band4),
       |wcands4 AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM wband4 a JOIN wband4 b ON a.band_id = b.band_id AND a.band_key = b.band_key
       |  WHERE a.doc_id < b.doc_id),
       |wver4 AS (
       |  SELECT c.id_a, c.id_b,
       |         len(list_intersect(sa.hsh, sb.hsh)) AS n_common,
       |         len(sa.hsh) + len(sb.hsh) - len(list_intersect(sa.hsh, sb.hsh)) AS n_union
       |  FROM wcands4 c JOIN sh sa ON c.id_a = sa.doc_id JOIN sh sb ON c.id_b = sb.doc_id),
       |wpairs AS (
       |  SELECT id_a, id_b FROM wver4
       |  WHERE CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.6),
       |wedges AS (
       |  SELECT id_a, id_b FROM wpairs
       |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM wpairs),
       |wreach AS (
       |  SELECT doc_id, doc_id AS label FROM corpus
       |  UNION
       |  SELECT e.id_a AS doc_id, r.label
       |  FROM wreach r JOIN wedges e ON e.id_b = r.doc_id),
       |wlbl AS (SELECT doc_id, min(label) AS label FROM wreach GROUP BY doc_id),
       |wsizes AS (
       |  SELECT label AS canonical_id, count(*) AS cluster_size FROM wlbl GROUP BY label),
       |removed2 AS (
       |  SELECT wlbl.doc_id FROM wlbl JOIN wsizes s ON wlbl.label = s.canonical_id
       |  WHERE s.cluster_size > 1 AND wlbl.doc_id <> wlbl.label
       |    AND wlbl.doc_id NOT IN (SELECT doc_id FROM removed1)),
       |wver1 AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         len(list_intersect(a.hsh, b.hsh)) AS n_common,
       |         len(a.hsh) AS n_a, len(b.hsh) AS n_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |removed3raw AS (
       |  SELECT DISTINCT CASE WHEN n_a < n_b THEN id_a
       |                       WHEN n_b < n_a THEN id_b ELSE id_b END AS doc_id
       |  FROM wver1
       |  WHERE CAST(n_common AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) >= 0.9),
       |removed3 AS (
       |  -- NOT IN, not EXCEPT: DuckDB's WITH RECURSIVE parser rejects
       |  -- non-UNION setops anywhere in the with-list
       |  SELECT doc_id FROM removed3raw
       |  WHERE doc_id NOT IN (SELECT doc_id FROM removed1)
       |    AND doc_id NOT IN (SELECT doc_id FROM removed2)),
       |tot AS (SELECT count(*) AS total FROM corpus),
       |s1 AS (SELECT count(*) AS n1, coalesce(CAST(sum(n_chars) AS BIGINT), 0) AS c1
       |       FROM removed1 JOIN lens USING (doc_id)),
       |s2 AS (SELECT count(*) AS n2, coalesce(CAST(sum(n_chars) AS BIGINT), 0) AS c2
       |       FROM removed2 JOIN lens USING (doc_id)),
       |s3 AS (SELECT count(*) AS n3, coalesce(CAST(sum(n_chars) AS BIGINT), 0) AS c3
       |       FROM removed3 JOIN lens USING (doc_id))
       |SELECT stage, n_removed, chars_removed, survivors FROM (
       |  SELECT '1_exact' AS stage, n1 AS n_removed, c1 AS chars_removed,
       |         total - n1 AS survivors FROM s1, tot
       |  UNION ALL
       |  SELECT '2_near_dup', n2, c2, total - n1 - n2 FROM s1, s2, tot
       |  UNION ALL
       |  SELECT '3_containment', n3, c3, total - n1 - n2 - n3 FROM s1, s2, s3, tot)
       |ORDER BY stage""".stripMargin
  }

  /** SimHash pair-table health stats — the [[bandOccupancy]] twin for
    * the Manku blocking: per two-block table, distinct key count, the
    * hottest bucket, and the candidate pairs the table implies. The 28
    * tables each hash into 2³² keys, so on a healthy corpus occupancy
    * stays ~1 and total candidates ~|near-dups|; a table whose
    * max_occupancy explodes has found a fingerprint-collision flood
    * (templated docs voting identical bits) BEFORE the self-join pays
    * for it.
    *
    * Scale shape: reuses the memoized fingerprints; one (table, key)
    * shuffle to bucket sizes, then a 28-key aggregation. */
  def simhashTableStats(spark: SparkSession, dir: String): DataFrame = {
    val fps = simhashFingerprints(spark, dir)
    val banded = fps
      .select(col("doc_id"),
        explode(array(simhashTables.zipWithIndex.map { case ((i, j), t) =>
          struct(lit(t).as("band_id"),
            (col(s"fp$i") * lit(65536L) + col(s"fp$j")).as("band_val"))
        }: _*)).as("bk"))
      .select(col("bk.band_id").as("band_id"), col("bk.band_val").as("band_val"))
    banded.groupBy("band_id", "band_val")
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("band_id").cast("long").as("band_id"))
      .agg(
        count(lit(1)).as("n_keys"),
        max(col("occ")).as("max_occupancy"),
        expr("sum(occ * (occ - 1) div 2)").as("cand_pairs"))
      .orderBy("band_id")
  }

  def simhashTableStatsSql: String =
    s"""$simhashFpsCte,
       |banded AS (
       |  ${simhashBandSelects(withFps = false)}),
       |occ AS (
       |  SELECT band_id, band_val, count(*) AS occ
       |  FROM banded GROUP BY band_id, band_val)
       |SELECT CAST(band_id AS BIGINT) AS band_id,
       |       count(*) AS n_keys,
       |       CAST(max(occ) AS BIGINT) AS max_occupancy,
       |       CAST(sum(occ * (occ - 1) // 2) AS BIGINT) AS cand_pairs
       |FROM occ GROUP BY band_id ORDER BY band_id""".stripMargin

  /** Word-3-gram Jaccard near-dup with min-hash blocking: candidates share
    * the minimum 3-gram digest; verified pairs at Jaccard ≥ 0.4. */
  /** Cached (doc_id, word-trigram set) table — the ngram family's shared
    * build. */
  private[graft] def ngramBase(spark: SparkSession, dir: String): DataFrame = {
    val w = col("w")
    val grams = array_distinct(
      when(size(w) >= 3,
        transform(sequence(lit(1), size(w) - 2),
          i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
        .otherwise(array(col("t"))))
    ngramBaseCache(spark, dir)(
      normCorpus(spark, dir)
        .withColumn("w", split(col("t"), " "))
        .select(col("doc_id"), grams.as("grams")))
  }

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val base = ngramBase(spark, dir)
      // coalesce makes the join key non-nullable: otherwise Catalyst pushes
      // an IsNotNull(block_key) filter to the scan that re-inlines the whole
      // gram pipeline (split re-evaluated per lambda element - O(n^2)/row).
      .withColumn("block_key", coalesce(array_min(transform(col("grams"), g => md5(g))), lit("")))

    val l = base.select(col("block_key"), col("doc_id").as("id_a"), col("grams").as("g_a"))
    val r = base.select(col("block_key"), col("doc_id").as("id_b"), col("grams").as("g_b"))
    l.join(r, Seq("block_key"))
      .where(col("id_a") < col("id_b"))
      .withColumn("n_common", size(array_intersect(col("g_a"), col("g_b"))).cast("long"))
      .withColumn("n_union", size(col("g_a")).cast("long") + size(col("g_b")).cast("long") - col("n_common"))
      .withColumn("jaccard", col("n_common").cast("double") / col("n_union").cast("double"))
      .where(col("jaccard") >= 0.4)
      .select("id_a", "id_b", "n_common", "n_union", "jaccard")
      .orderBy("id_a", "id_b")
  }

  def ngramJaccardSql: String =
    s"""$corpusSql,
       |norm AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus),
       |wordsets AS (
       |  SELECT doc_id, string_split(t, ' ') AS w, t FROM norm),
       |grams AS (
       |  SELECT doc_id,
       |         list_distinct(CASE WHEN len(w) >= 3
       |           THEN list_transform(generate_series(1, len(w) - 2),
       |                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |           ELSE [t] END) AS g
       |  FROM wordsets),
       |blocked AS (
       |  SELECT doc_id, g, list_min(list_transform(g, x -> md5(x))) AS block_key FROM grams),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         len(list_intersect(a.g, b.g)) AS n_common,
       |         len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS n_union
       |  FROM blocked a JOIN blocked b ON a.block_key = b.block_key
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b, n_common, n_union,
       |       CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
       |FROM pairs WHERE CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin

  /** Incremental (batch-vs-index) dedup — the PRODUCTION shape at 100 TB:
    * today's crawl is admitted against the existing corpus without ever
    * re-pairing the index with itself. Here the index is the original
    * documents (doc_id < 1M) and the "new batch" is the injected copies
    * (doc_id ≥ 1M); each new document reports its best-matching index
    * document and an admit/reject verdict at Jaccard ≥ 0.6.
    *
    * Scale shape: candidates come from the same band-bucket join as
    * [[minhashLsh]] (shared [[verifiedPairs]] build), filtered to
    * index×batch pairs — cost scales with the batch's bucket overlap,
    * not |index|²; the best-match window partitions on the new doc id.
    * In a deployed pipeline the index signatures are a persisted table
    * and only the batch side is computed fresh. */
  def incremental(spark: SparkSession, dir: String, threshold: Double = 0.6): DataFrame = {
    val newDocs = corpus(spark, dir).where(col("doc_id") >= 1000000L).select(col("doc_id"))
    val matches = verifiedPairs(spark, dir)
      .where(col("id_a") < 1000000L && col("id_b") >= 1000000L)
      .select(col("id_b").as("doc_id"), col("id_a").as("match_id"), col("jaccard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("jaccard").desc, col("match_id"))
    val best = matches.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
    newDocs.join(best, Seq("doc_id"), "left")
      .withColumn("admitted", when(col("jaccard") >= threshold, 0L).otherwise(1L))
      .orderBy("doc_id")
  }

  /** LSH banding-parameter tuner — the S-curve table (Leskovec/Rajaraman/
    * Ullman, "Mining of Massive Datasets" ch.3, public algorithm) that
    * picks (bands, rows) for a 16-hash signature: for each layout
    * b×r ∈ {16×1, 8×2, 4×4, 2×8}, the collision probability of a pair
    * with Jaccard s is p(s) = 1 − (1 − sʳ)ᵇ; summing p over the measured
    * candidate pairs above/below the 0.6 admission threshold gives the
    * layout's expected recall and expected precision BEFORE paying a
    * re-band of the corpus. Powers are expanded as literal multiplication
    * chains (b·r = 16, so ≤ 8 multiplies) — no libm pow, so both engines
    * produce identical IEEE doubles — and the cross-row sums are
    * 2⁴⁰-quantized exact. Pair similarities come from the current 4×4
    * banding's verified candidates (the observable set; a layout's
    * ABSOLUTE recall vs all true pairs needs the exact-join ground truth,
    * which dedup_minhash_accuracy covers).
    *
    * Scale shape: one conditional-aggregation pass over the shared
    * verified-pairs build — no join, no window. */
  def lshTune(spark: SparkSession, dir: String, threshold: Double = 0.6): DataFrame = {
    val configs = Seq((16, 1), (8, 2), (4, 4), (2, 8))
    def powChain(base: Column, n: Int): Column =
      (2 to n).foldLeft(base)((acc, _) => acc * base)
    def pCatch(s: Column, b: Int, r: Int): Column =
      lit(1.0) - powChain(lit(1.0) - powChain(s, r), b)
    val Q = 1099511627776.0
    def qsum(c: Column): Column =
      sum(floor(c * Q).cast("long").cast(DecimalType(38, 0))).cast("double") / Q
    val pairs = verifiedPairs(spark, dir)
    val aggs = configs.zipWithIndex.flatMap { case ((b, r), i) =>
      val p = pCatch(col("jaccard"), b, r)
      Seq(
        count(when(col("jaccard") >= threshold, 1)).as(s"nt_$i"),
        count(when(col("jaccard") < threshold, 1)).as(s"nf_$i"),
        qsum(when(col("jaccard") >= threshold, p).otherwise(lit(0.0))).as(s"et_$i"),
        qsum(when(col("jaccard") < threshold, p).otherwise(lit(0.0))).as(s"ef_$i"))
    }
    pairs.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(configs.zipWithIndex.map { case ((b, r), i) =>
        struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col(s"nt_$i").as("n_true_pairs"), col(s"nf_$i").as("n_false_pairs"),
          col(s"et_$i").as("exp_true_caught"), col(s"ef_$i").as("exp_false_caught"))
      }: _*)).as("c"))
      .select("c.*")
      .withColumn("exp_recall",
        when(col("n_true_pairs") > 0L, col("exp_true_caught") / col("n_true_pairs").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("exp_precision",
        when(col("exp_true_caught") + col("exp_false_caught") > 0.0,
          col("exp_true_caught") / (col("exp_true_caught") + col("exp_false_caught")))
          .otherwise(lit(0.0)))
      .orderBy("rows_per_band")
  }

  def lshTuneSql(threshold: Double = 0.6): String = {
    val configs = Seq((16, 1), (8, 2), (4, 4), (2, 8))
    def powChainSql(e: String, n: Int): String =
      if (n == 1) e else List.fill(n)(e).mkString("(", " * ", ")")
    def pSql(b: Int, r: Int): String =
      s"(1.0 - ${powChainSql(s"(1.0 - ${powChainSql("jaccard", r)})", b)})"
    def qsumSql(c: String): String =
      s"CAST(sum(CAST(floor(($c) * 1099511627776.0) AS HUGEINT)) AS DOUBLE) / 1099511627776.0"
    val aggCols = configs.zipWithIndex.map { case ((b, r), i) =>
      s"""count(CASE WHEN jaccard >= $threshold THEN 1 END) AS nt_$i,
         |         count(CASE WHEN jaccard < $threshold THEN 1 END) AS nf_$i,
         |         ${qsumSql(s"CASE WHEN jaccard >= $threshold THEN ${pSql(b, r)} ELSE 0.0 END")} AS et_$i,
         |         ${qsumSql(s"CASE WHEN jaccard < $threshold THEN ${pSql(b, r)} ELSE 0.0 END")} AS ef_$i""".stripMargin
    }.mkString(",\n         ")
    val unpivot = configs.zipWithIndex.map { case ((b, r), i) =>
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |       nt_$i AS n_true_pairs, nf_$i AS n_false_pairs,
         |       et_$i AS exp_true_caught, ef_$i AS exp_false_caught,
         |       CASE WHEN nt_$i > 0 THEN et_$i / CAST(nt_$i AS DOUBLE) ELSE 0.0 END AS exp_recall,
         |       CASE WHEN et_$i + ef_$i > 0.0 THEN et_$i / (et_$i + ef_$i) ELSE 0.0 END AS exp_precision
         |FROM agg""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""$minhashPairsCte,
       |jac AS (
       |  SELECT id_a, id_b,
       |         CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
       |  FROM verified),
       |agg AS (
       |  SELECT $aggCols
       |  FROM jac)
       |$unpivot
       |ORDER BY rows_per_band""".stripMargin
  }

  /** Persisted LSH admission index — the storage layout under
    * [[incremental]]'s production deployment note: the existing corpus's
    * band keys are written ONCE as a parquet table bucketed (and sorted)
    * by `band_key` ([[graft.sources.Bucketing.writeBucketed]]). Every
    * subsequent crawl admission then joins against files whose layout
    * already satisfies the band join's required distribution: the scan
    * reports hash(band_key) partitioning, so the plan carries NO Exchange
    * on the index side — only the (small) fresh batch shuffles. At 100 TB
    * the index is re-read by every admission run; re-hashing it per run
    * is the admission path's last avoidable shuffle, and this layout
    * deletes it (pinned by BucketedAdmissionSpec on the executed plan).
    * Built from the serial corpus scan, not the memoized session cache —
    * a write-once index must not depend on session cache state. */
  def writeAdmissionIndex(
      spark: SparkSession, dir: String, table: String, path: String,
      nBuckets: Int = 32): Unit = {
    val indexDocs = Tables.loadSerial(spark, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("t"))
      .select(col("doc_id"), shingleCol(col("t")).as("shingles"))
    graft.sources.Bucketing.writeBucketed(
      bandsOf(indexDocs)
        .select(col("doc_id").as("index_id"), col("band_id"),
          bandBucketKey.as("bkey")),
      table, "bkey", path, nBuckets)
  }

  /** Composite band bucket key `band_id:band_key` — ONE column, so the
    * admission equi-join key IS the bucket key. A separate band_id
    * equality filter would be absorbed into the join keys by Catalyst
    * (equality of left/right columns = an equi-key), widening the
    * required distribution past the bucket layout and re-shuffling the
    * index — the exact shuffle this layout deletes. */
  private def bandBucketKey: Column =
    concat_ws(":", col("band_id").cast("string"), col("band_key"))

  /** Band-bucket admission join of a fresh (doc_id, text) batch against
    * the persisted index: candidates are (new doc, index doc) pairs
    * sharing a band. The equi-join key is the composite [[bandBucketKey]]
    * — exactly the bucket key, so the index side scans shuffle-free. */
  def admissionCandidates(
      spark: SparkSession, batch: DataFrame, table: String): DataFrame = {
    val batchBands = bandsOf(
      batch.select(col("doc_id"), normText(col("text")).as("t"))
        .select(col("doc_id"), shingleCol(col("t")).as("shingles")))
      .select(col("doc_id"), bandBucketKey.as("bkey"))
    batchBands.join(spark.table(table), "bkey")
      .select(col("doc_id"), col("index_id"), col("band_id"))
  }

  /** Two-stage admission join: the Bloom front-end first, the exact
    * bucketed index only on positives (r13 verdict item 7 — the
    * price-then-dispatch pattern, applied to the admission read path).
    *
    * Stage 1 probes each DISTINCT fresh band key against an m-bit Bloom
    * table built over the index's band keys
    * ([[graft.analytics.Sketches.bloomBits]], same hash scheme as the
    * accuracy-contracted `approxMembership`): the bit table broadcasts
    * (≤ m rows — at 100 TB, megabytes standing in for the index's
    * terabytes), and a crawl batch's NOVEL content — the common case, most
    * of a healthy crawl is new — dies here without ever touching the
    * index files. Stage 2 joins only the surviving keys against the
    * bucketed index, whose layout still satisfies the join's distribution
    * (no index-side Exchange).
    *
    * Zero false drops BY CONSTRUCTION: a Bloom filter has no false
    * negatives, so every band key present in the index survives stage 1
    * and the output is EXACTLY [[admissionCandidates]]'s
    * (BucketedAdmissionSpec pins equality and the plan shape). False
    * positives only waste a probe (≈ (1−e^{−kn/m})^k of novel keys reach
    * the index scan and match nothing). `m` defaults to 8 bits per
    * indexed key-ish at the test scale; size it to the index build. */
  def admissionCandidatesBloom(
      spark: SparkSession, batch: DataFrame, table: String,
      k: Int = 3, m: Int = 1 << 20): DataFrame = {
    val index = spark.table(table)
    val bits = graft.analytics.Sketches.bloomBits(
      index.select(col("bkey")).distinct(), "bkey", k, m)
    val batchBands = bandsOf(
      batch.select(col("doc_id"), normText(col("text")).as("t"))
        .select(col("doc_id"), shingleCol(col("t")).as("shingles")))
      .select(col("doc_id"), bandBucketKey.as("bkey"))
    // probe DISTINCT keys (bounded by the batch's band fan-out), then
    // rejoin survivors — the band rows of novel keys never reach stage 2
    val surviving = graft.analytics.Sketches.bloomKeep(
      batchBands.select("bkey").distinct(), "bkey", bits, k, m)
    batchBands.join(surviving, "bkey")
      .join(index, "bkey")
      .select(col("doc_id"), col("index_id"), col("band_id"))
  }

  /** Per-new-doc admission rollup over [[admissionCandidates]]: how many
    * index documents the batch doc collides with and across how many
    * band hits — the flood gauge an admission pipeline reads before
    * paying the exact verify (the verify itself is [[incremental]]'s
    * verified-Jaccard step). */
  def admitAgainstIndex(
      spark: SparkSession, batch: DataFrame, table: String): DataFrame =
    admissionCandidates(spark, batch, table)
      .groupBy("doc_id")
      .agg(countDistinct(col("index_id")).as("n_index_candidates"),
        count(lit(1)).as("n_band_hits"))
      .orderBy("doc_id")

  /** Connected components via alternating large-star / small-star
    * (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC 2014 — public
    * algorithm): each round, large-star points every neighbor larger
    * than the node at the node's minimum neighbor, small-star points the
    * node and its smaller neighbors at the overall minimum. Converges in
    * O(log n) rounds for ANY component shape, where plain min-label
    * propagation ([[cluster]]'s 3 rounds) needs O(diameter) — a chained
    * near-dup component (A~B~C~…, common in crawl data where each
    * scrape drifts a little) with diameter > 3 splits under the simple
    * form but not here. Same output contract as [[cluster]].
    *
    * Scale shape per round: two self-contained groupBy-min shuffles on
    * node ids over the EDGE list (|edges| rows, never |nodes|²); the
    * edge list shrinks as stars collapse. This is the 100 TB clustering
    * path; [[cluster]] stays the cheap small-diameter default. */
  def clusterLargeStar(spark: SparkSession, dir: String, maxRounds: Int = 20): DataFrame = {
    val pairs = verifiedPairs(spark, dir)
      .where(col("jaccard") >= 0.6).select(col("id_a"), col("id_b"))
    clusterEdgesLargeStar(pairs, maxRounds)
  }

  /** The algorithm itself over an arbitrary (id_a, id_b) edge list —
    * exposed so specs can feed adversarial shapes (long chains). */
  private[graft] def clusterEdgesLargeStar(pairs: DataFrame, maxRounds: Int): DataFrame = {
    // parent pointers as an edge relation (u, p); start from the raw
    // symmetric edges. Convergence: every node points at its component min.
    var edges = Tables.pin(pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .distinct())
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // both stars read the SYMMETRIC neighborhood (the paper's map step
      // re-emits each edge in both directions every round).
      // NO distinct on sym (r19, guide §2.4; interleaved A/B with this
      // and the one-job convergence below, dedup_cluster_lss 3.45 → 2.89 s
      // at sf0.1): it is referenced three times per round and each
      // reference re-paid the dedup shuffle. Duplicate (u, v) rows cannot
      // change any consumer: minNbr and minSmall are min-aggregations, and
      // the large/small outputs are distinct-ed in `next`. The per-node
      // self-row distinct (1 column, |V| rows) stays.
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      // large-star: for each u, attach every neighbor v > u to
      // min(neighbors(u) ∪ {u})
      val minNbr = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(minNbr, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: orient (larger, smaller); for each u, attach u and
      // all smaller neighbors to their min
      val smallEdges = sym.where(col("v") <= col("u"))
        .unionAll(sym.select(col("u")).distinct().select(col("u"), col("u").as("v")))
      val minSmall = smallEdges.groupBy("u").agg(min(col("v")).as("m"))
      val small = smallEdges.join(minSmall, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      // pinned: truncates the exponential lineage
      val next = Tables.pin(large.unionAll(small).where(col("u") =!= col("v")).distinct())
      // fixed point = the edge SET stopped changing. ONE action per round
      // (r19): both sides are distinct sets, so they are equal iff every
      // (u, v) of their unionAll appears exactly twice (a row only in one
      // side counts 1, and within one side each row is unique); the r18
      // form paid a count job AND an except+isEmpty job per round. Exact
      // (at lake scale swap for a monotone metric like count + Σ
      // parent-id, avoiding the compare).
      converged = next.unionAll(edges).groupBy("u", "v").count()
        .where(col("count") =!= 2L).isEmpty
      edges = next
      round += 1
    }
    // partially-collapsed parent edges would silently mislabel whole
    // components — refuse rather than return wrong clusters (O(log n)
    // rounds suffice, so hitting this means maxRounds was set far too low)
    require(converged,
      s"large-star/small-star did not reach its fixed point in $maxRounds rounds — raise maxRounds")
    // at convergence every surviving edge is (node, component-min); the
    // root has no outgoing edge, so add its self-labeled row back — the
    // canonical doc is a cluster member too (same contract as [[cluster]])
    val members = edges.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("label"))
    val roots = members.select(col("label")).distinct()
      .select(col("label").as("doc_id"), col("label"))
    val labels = members.unionAll(roots)
    val sizes = labels.groupBy(col("label").as("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("doc_id"), col("label").as("canonical_id"))
      .join(sizes, "canonical_id")
      .where(col("cluster_size") > 1)
      .select("doc_id", "canonical_id", "cluster_size")
      .orderBy("canonical_id", "doc_id")
  }

  /** N-gram benchmark contamination — the PARTIAL-overlap eval-integrity
    * check [[contamination]]'s exact digests cannot see: a training doc
    * that embeds, truncates, or lightly edits a benchmark item shares
    * long word n-grams with it without hashing equal (the GPT-3-style
    * n-gram decontamination methodology, applied symmetric). Benchmark =
    * the same held-out slice as the exact check; a train doc is flagged
    * against a benchmark doc when they share ≥ `minShared` distinct
    * word-8-grams.
    *
    * Scale shape: the benchmark side is small by definition (eval sets),
    * so the gram join broadcasts it; the train side is one explode +
    * one shuffle on 8-byte gram digests; everything after the
    * (train, bench) count is |overlapping pairs| rows. Output is one row
    * per benchmark doc (left join), so "no contamination" is visible as
    * zeros, not absence. */
  /** Distinct 8-word-gram digests of a word array — shared by the n-gram
    * contamination detector and its decontaminate apply leg. */
  private def grams8Col(w: Column): Column =
    // empty-guard: sequence(1, 0) would auto-descend, not return empty
    when(size(w) >= 8,
      array_distinct(transform(sequence(lit(1), size(w) - 7),
        i => conv(substring(md5(concat_ws(" ", slice(w, i, lit(8)))), 1, 15), 16, 10)
          .cast("long"))))
      .otherwise(array().cast("array<long>"))

  def contaminationNgram(spark: SparkSession, dir: String, minShared: Int = 3): DataFrame = {
    val grams8 = grams8Col(col("w"))
    val base = normCorpus(spark, dir)
      .select(col("doc_id"), split(col("t"), " ").as("w"))
      .select(col("doc_id"), grams8.as("grams"))
    val isBench = col("doc_id") % 50 === 0 && col("doc_id") < 1000000L
    val bench = base.where(isBench)
      .select(col("doc_id").as("bench_id"), explode(col("grams")).as("g"))
    val train = base.where(!isBench)
      .select(col("doc_id").as("train_id"), explode(col("grams")).as("g"))
    // explicit hint: the benchmark gram side is small by definition, and
    // a stats misestimate falling back to sort-merge would shuffle the
    // full train fan-out a second time — the cost this design avoids
    val shared = train.join(broadcast(bench), "g")
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
    val flagged = shared.where(col("n_shared") >= minShared)
      .groupBy("bench_id")
      .agg(
        countDistinct(col("train_id")).as("n_flagged_train"),
        max(col("n_shared")).as("max_shared"))
    base.where(isBench).select(col("doc_id").as("bench_id"))
      .join(flagged, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_flagged_train"), lit(0L)).as("n_flagged_train"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"))
      .orderBy("bench_id")
  }

  def contaminationNgramSql(minShared: Int = 3): String =
    s"""$corpusSql,
       |norm2 AS (
       |  SELECT doc_id,
       |         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
       |  FROM corpus),
       |base AS (
       |  SELECT doc_id,
       |         CASE WHEN len(w) >= 8
       |              THEN list_distinct([CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15) AS BIGINT)
       |                                  for i in range(1, len(w) - 7 + 1)])
       |              ELSE [] END AS grams
       |  FROM norm2),
       |bench AS (
       |  SELECT doc_id AS bench_id, unnest(grams) AS g FROM base
       |  WHERE doc_id % 50 = 0 AND doc_id < 1000000),
       |train AS (
       |  SELECT doc_id AS train_id, unnest(grams) AS g FROM base
       |  WHERE NOT (doc_id % 50 = 0 AND doc_id < 1000000)),
       |shared AS (
       |  SELECT train_id, bench_id, count(*) AS n_shared
       |  FROM train JOIN bench USING (g) GROUP BY train_id, bench_id),
       |flagged AS (
       |  SELECT bench_id, count(DISTINCT train_id) AS n_flagged_train,
       |         CAST(max(n_shared) AS BIGINT) AS max_shared
       |  FROM shared WHERE n_shared >= $minShared GROUP BY bench_id)
       |SELECT b.bench_id, coalesce(f.n_flagged_train, 0) AS n_flagged_train,
       |       coalesce(f.max_shared, 0) AS max_shared
       |FROM (SELECT doc_id AS bench_id FROM base WHERE doc_id % 50 = 0 AND doc_id < 1000000) b
       |LEFT JOIN flagged f USING (bench_id)
       |ORDER BY bench_id""".stripMargin

  /** Decontamination APPLY leg — the actionable output the detection
    * panels ([[contamination]] exact-hash, [[contaminationNgram]] 8-gram
    * overlap) exist to drive: drop from the training split every doc
    * flagged by EITHER detector (exact digest match with a benchmark
    * doc, or ≥ `minShared` shared 8-grams), and report the per-source
    * retention a dataset card needs — docs kept/dropped, kept token
    * volume, drop share. The same detect→apply pairing as
    * paragraphDedup→paragraphRewrite. Sources are recovered through the
    * injected-corpus id algebra (orig = doc_id mod 1M).
    *
    * Scale shape: both flag sets are bounded by the benchmark side
    * (|corpus|/50); the union is a distinct on doc ids, the apply is ONE
    * left join from the training corpus to the drop set (AQE broadcasts
    * a small drop set), the rollup keys on |sources|. Never a
    * train×train comparison anywhere. */
  def decontaminate(spark: SparkSession, dir: String, minShared: Int = 3): DataFrame = {
    val norm = normCorpus(spark, dir)
    val isBench = col("doc_id") % 50 === 0 && col("doc_id") < 1000000L
    // exact-hash hits (the contamination() detector's flag set)
    val sigs = norm.select(col("doc_id"), md5(col("t")).as("sig"))
    val benchSigs = sigs.where(isBench).select("sig")
    val exactHits = sigs.where(!isBench).join(benchSigs, "sig").select("doc_id")
    // 8-gram overlap hits (the contaminationNgram() detector's flag set)
    val base = norm
      .select(col("doc_id"), split(col("t"), " ").as("w"))
      .select(col("doc_id"), grams8Col(col("w")).as("grams"))
    val benchGrams = base.where(isBench)
      .select(col("doc_id").as("bench_id"), explode(col("grams")).as("g"))
    val trainGrams = base.where(!isBench)
      .select(col("doc_id").as("train_id"), explode(col("grams")).as("g"))
    val ngramHits = trainGrams.join(broadcast(benchGrams), "g")
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select(col("train_id").as("doc_id"))
    val dropIds = exactHits.unionByName(ngramHits).distinct()
      .withColumn("dropped", lit(1L))
    val sources = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("orig_id"), col("source"))
    val train = norm.where(!isBench)
      .select(col("doc_id"), (col("doc_id") % 1000000L).as("orig_id"),
        size(split(col("t"), " ")).cast("long").as("n_tokens"))
      .join(sources, "orig_id")
    train.join(dropIds, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_train"),
        sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"),
        count(when(col("dropped").isNull, 1)).as("n_kept"),
        sum(when(col("dropped").isNull, col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .withColumn("drop_share",
        col("n_dropped").cast("double") / col("n_train").cast("double"))
      .orderBy("source")
  }

  def decontaminateSql(minShared: Int = 3): String =
    s"""$corpusSql,
       |norm2 AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus),
       |sigs AS (SELECT doc_id, md5(t) AS sig FROM norm2),
       |bench_sigs AS (
       |  SELECT sig FROM sigs WHERE doc_id % 50 = 0 AND doc_id < 1000000),
       |exact_hits AS (
       |  SELECT DISTINCT s.doc_id FROM sigs s JOIN bench_sigs b USING (sig)
       |  WHERE NOT (s.doc_id % 50 = 0 AND s.doc_id < 1000000)),
       |words AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm2),
       |base AS (
       |  SELECT doc_id,
       |         CASE WHEN len(w) >= 8
       |              THEN list_distinct([CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15) AS BIGINT)
       |                                  for i in range(1, len(w) - 7 + 1)])
       |              ELSE [] END AS grams
       |  FROM words),
       |bench_g AS (
       |  SELECT doc_id AS bench_id, unnest(grams) AS g FROM base
       |  WHERE doc_id % 50 = 0 AND doc_id < 1000000),
       |train_g AS (
       |  SELECT doc_id AS train_id, unnest(grams) AS g FROM base
       |  WHERE NOT (doc_id % 50 = 0 AND doc_id < 1000000)),
       |ngram_hits AS (
       |  SELECT DISTINCT train_id AS doc_id
       |  FROM (SELECT train_id, bench_id, count(*) AS n_shared
       |        FROM train_g JOIN bench_g USING (g) GROUP BY train_id, bench_id)
       |  WHERE n_shared >= $minShared),
       |drop_ids AS (
       |  SELECT doc_id FROM exact_hits UNION SELECT doc_id FROM ngram_hits),
       |train AS (
       |  SELECT n.doc_id, d.source, len(string_split(n.t, ' ')) AS n_tokens
       |  FROM norm2 n JOIN documents d ON n.doc_id % 1000000 = d.doc_id
       |  WHERE NOT (n.doc_id % 50 = 0 AND n.doc_id < 1000000))
       |SELECT t.source,
       |       count(*) AS n_train,
       |       CAST(sum(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       count(CASE WHEN x.doc_id IS NULL THEN 1 END) AS n_kept,
       |       CAST(sum(CASE WHEN x.doc_id IS NULL THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
       |       CAST(sum(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS drop_share
       |FROM train t LEFT JOIN drop_ids x ON t.doc_id = x.doc_id
       |GROUP BY t.source ORDER BY t.source""".stripMargin

  /** Cross-source duplication matrix: verified near-dup pairs (Jaccard
    * ≥ 0.6, the [[minhashLsh]] population) labeled with BOTH documents'
    * sources — which sources copy from each other, the licensing /
    * crawl-priority signal a corpus curator reads before deciding what
    * to keep. Injected copies inherit their original's source
    * (orig = doc_id mod 1M, the corpus construction).
    *
    * Scale shape: everything downstream of the shared LSH pair build is
    * proportional to the near-dup population; the two source lookups are
    * doc_id equi-joins; the final aggregate is |sources|² rows max.
    * Aggregates are exact integer sums — the mean dup strength is the
    * single division sum_common/sum_union (deterministic), never an
    * order-dependent avg of doubles. */
  def crossSourceDup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(spark, dir).where(col("jaccard") >= 0.6)
    val src = Tables.load(spark, dir, "documents").select(col("doc_id"), col("source"))
    pairs
      .withColumn("orig_a", col("id_a") % 1000000L)
      .withColumn("orig_b", col("id_b") % 1000000L)
      .join(src.select(col("doc_id").as("orig_a"), col("source").as("sa")), "orig_a")
      .join(src.select(col("doc_id").as("orig_b"), col("source").as("sb")), "orig_b")
      .select(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("n_common"), col("n_union"), col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("n_common")).as("sum_common"),
        sum(col("n_union")).as("sum_union"),
        max(col("jaccard")).as("max_jaccard"))
      .withColumn("mean_strength",
        col("sum_common").cast("double") / col("sum_union").cast("double"))
      .orderBy("source_a", "source_b")
  }

  def crossSourceDupSql: String =
    s"""$minhashPairsCte,
       |near AS (
       |  SELECT id_a, id_b, n_common, n_union,
       |         CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
       |  FROM verified
       |  WHERE CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.6),
       |lab AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |         greatest(da.source, db.source) AS source_b,
       |         n.n_common, n.n_union, n.jaccard
       |  FROM near n
       |  JOIN documents da ON n.id_a % 1000000 = da.doc_id
       |  JOIN documents db ON n.id_b % 1000000 = db.doc_id)
       |SELECT source_a, source_b,
       |       count(*) AS n_pairs,
       |       CAST(sum(n_common) AS BIGINT) AS sum_common,
       |       CAST(sum(n_union) AS BIGINT) AS sum_union,
       |       max(jaccard) AS max_jaccard,
       |       CAST(sum(n_common) AS DOUBLE) / CAST(sum(n_union) AS DOUBLE) AS mean_strength
       |FROM lab GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Dup-rate calibration curve: verified pair count and affected-doc
    * count at each candidate Jaccard threshold — the table an operator
    * reads to pick the dedup threshold (how much of the corpus each
    * setting would drop) BEFORE running the destructive pass. One pass
    * over the shared verified pairs; thresholds are a 6-row literal
    * spine, so the whole curve costs one |pairs| aggregation per
    * threshold — never a re-pair. */
  def thresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val thresholds = Seq(0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
    val pairs = verifiedPairs(spark, dir)
    // one conditional-aggregation pass over the pairs — no join, and a
    // threshold no pair clears still reports 0 ("drops nothing") instead
    // of vanishing from the calibration table
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      count(when(col("jaccard") >= t, 1)).as(s"np_$i"),
      countDistinct(when(col("jaccard") >= t, col("id_b"))).as(s"nd_$i"))
    }
    pairs.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(thresholds.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"),
          col(s"np_$i").as("n_pairs"), col(s"nd_$i").as("n_droppable"))
      }: _*)).as("r"))
      .select("r.*")
      .orderBy("threshold")
  }

  def thresholdCurveSql: String = {
    val thresholds = Seq(0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
    val aggCols = thresholds.zipWithIndex.map { case (t, i) =>
      s"count(CASE WHEN jaccard >= $t THEN 1 END) AS np_$i,\n" +
        s"         count(DISTINCT CASE WHEN jaccard >= $t THEN id_b END) AS nd_$i"
    }.mkString(",\n         ")
    val unpivot = thresholds.zipWithIndex.map { case (t, i) =>
      s"SELECT CAST($t AS DOUBLE) AS threshold, np_$i AS n_pairs, nd_$i AS n_droppable FROM agg"
    }.mkString("\n  UNION ALL ")
    s"""$minhashPairsCte,
       |jac AS (
       |  SELECT id_a, id_b,
       |         CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
       |  FROM verified),
       |agg AS (
       |  SELECT $aggCols
       |  FROM jac)
       |$unpivot
       |ORDER BY threshold""".stripMargin
  }

  /** Near-dup graph degree profile: per degree (number of verified
    * near-dup partners at Jaccard ≥ 0.6), how many documents have it —
    * the hub detector. A template page duplicated thousands of times
    * shows up as a high-degree hub; clustering such a component pays
    * degree² verification, so curators cap or pre-drop hubs first.
    * Symmetric degree via both pair endpoints, then two small
    * aggregations — |pairs| + |dup docs| work. */
  def pairDegree(spark: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(spark, dir).where(col("jaccard") >= 0.6)
    pairs.select(col("id_a").as("doc_id"))
      .unionAll(pairs.select(col("id_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .groupBy("degree")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("example_doc"))
      .orderBy("degree")
  }

  def pairDegreeSql: String =
    s"""$minhashPairsCte,
       |near AS (
       |  SELECT id_a, id_b FROM verified
       |  WHERE CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.6),
       |ends AS (
       |  SELECT id_a AS doc_id FROM near UNION ALL SELECT id_b FROM near),
       |deg AS (
       |  SELECT doc_id, count(*) AS degree FROM ends GROUP BY doc_id)
       |SELECT degree, count(*) AS n_docs, min(doc_id) AS example_doc
       |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  /** LSH band-bucket occupancy histogram — the blocking-health metric
    * as a first-class query: per band, how many buckets hold k
    * signatures and how many candidate pairs (k·(k−1)/2 each) those
    * buckets generate. THE number to watch
    * at 100 TB: verify cost is exactly Σ occ·(occ−1)/2, and a template
    * flood shows up here (one bucket's occupancy exploding) before the
    * verify stage melts — the curator reads this, then caps or pre-drops
    * the hub via [[pairDegree]].
    *
    * Scale shape: reuses the memoized signature table; one band-key
    * shuffle to bucket sizes, then an |occupancies|-key aggregation.
    * Never touches pairs — the histogram PRICES the pair build without
    * running it. */
  def bandOccupancy(spark: SparkSession, dir: String): DataFrame = {
    val banded = bandsFromSigs(signatures(spark, dir))
    banded.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("occupancy"))
      .groupBy(col("band_id").cast("long").as("band_id"), col("occupancy"))
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("band_id"), col("occupancy"),
        col("n_buckets"),
        expr("occupancy * (occupancy - 1) div 2 * n_buckets").as("cand_pairs"))
      .orderBy("band_id", "occupancy")
  }

  def bandOccupancySql: String = {
    val bandSelects = (0 until 4).map { b =>
      val cat = (0 until 4).map(r => s"CAST(sig${b * 4 + r} AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band_id, md5($cat) AS band_key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""$sigsCte,
       |banded AS (
       |  $bandSelects),
       |occ AS (
       |  SELECT band_id, band_key, count(*) AS occupancy
       |  FROM banded GROUP BY band_id, band_key)
       |SELECT CAST(band_id AS BIGINT) AS band_id, occupancy,
       |       count(*) AS n_buckets,
       |       CAST(occupancy * (occupancy - 1) // 2 * count(*) AS BIGINT) AS cand_pairs
       |FROM occ GROUP BY band_id, occupancy
       |ORDER BY band_id, occupancy""".stripMargin
  }

  /** Near-dup component statistics: the cluster-size histogram with the
    * deletion bill attached — per component size, how many clusters and
    * member documents exist, how many docs clustering will delete
    * (members minus one survivor per cluster), and the character volume
    * those deletions reclaim. This is the report a curator reads BEFORE
    * running the destructive collapse: [[thresholdCurve]] answers "what
    * would each threshold drop", this answers "what does the chosen
    * threshold's component structure look like".
    *
    * Scale shape: membership comes from the shared memoized [[cluster]]
    * build (|dup members| rows); the char join back to the corpus is
    * per-doc equi-join (no fan-out) and the final groupBy carries
    * |distinct sizes| keys. Only the already-shared LSH build touches
    * corpus-sized data. */
  def componentStats(spark: SparkSession, dir: String): DataFrame = {
    val members = cluster(spark, dir)
    val lens = corpus(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    members.join(lens, "doc_id")
      .groupBy("cluster_size")
      .agg(
        countDistinct(col("canonical_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("canonical_id"), col("n_chars"))
          .otherwise(lit(0L))).as("reclaim_chars"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        (col("n_docs") - col("n_clusters")).as("n_redundant_docs"),
        col("reclaim_chars"))
      .orderBy("cluster_size")
  }

  def componentStatsSql: String = withRecursive(
    s"""$clusterCte,
       |members AS (
       |  SELECT lbl.doc_id, lbl.label AS canonical_id, s.cluster_size
       |  FROM lbl JOIN sizes s ON lbl.label = s.canonical_id
       |  WHERE s.cluster_size > 1),
       |lens AS (SELECT doc_id, length(text) AS n_chars FROM corpus)
       |SELECT m.cluster_size,
       |       count(DISTINCT m.canonical_id) AS n_clusters,
       |       count(*) AS n_docs,
       |       count(*) - count(DISTINCT m.canonical_id) AS n_redundant_docs,
       |       CAST(sum(CASE WHEN m.doc_id <> m.canonical_id THEN l.n_chars ELSE 0 END) AS BIGINT) AS reclaim_chars
       |FROM members m JOIN lens l ON m.doc_id = l.doc_id
       |GROUP BY m.cluster_size ORDER BY m.cluster_size""".stripMargin)

  /** Exact duplicate-SUBSTRING spans — the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" semantics (arXiv
    * 2107.06499), suffix-array-free: every fixed-length character gram
    * (32 chars, their 50-token analogue scaled to the corpus) that occurs
    * more than once corpus-wide marks its positions as duplicated, and
    * per document the marked [p, p+31] intervals are merged into maximal
    * spans — the regions an exact-substring dedup pass would cut, with
    * the coverage share that decides whether the document is worth
    * keeping at all. Catches partial overlap (the truncated near-copies,
    * boilerplate headers) that whole-document hashing cannot.
    *
    * Scale shape: a suffix array over 100 TB is a research project; the
    * gram lattice is two shuffles — occurrence multiplicity attached via
    * a window PARTITIONED on the 60-bit gram digest (the corpus is
    * never re-paired and the shingle pipeline is built once — the same
    * linearization text_dup_gram_share uses), then the span merge as a
    * per-document ordered window. Both keys are high-cardinality and
    * skew-free by construction. */
  def substringDup(spark: SparkSession, dir: String, gram: Int = 32): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val base = normCorpus(spark, dir)
      .select(col("doc_id"), col("t"), length(col("t")).as("len"))
      .where(col("len") >= gram)
    // 60-bit digest, not the md5 hex (r19, guide §2.3 "narrower types";
    // interleaved A/B 2.26 → 1.67 s at sf0.1): the occurrence window
    // shuffles one row per character position, and the 32-char md5 hex
    // string was ~2/3 of every shuffled row; the 60-bit prefix (the same
    // digest the novelty/shingle pipelines shuffle, same on the DuckDB
    // side by construction, so collisions — none at any fixture scale —
    // are shared) is 8 bytes and hashes/sorts as a long.
    def ghOf(s: Column): Column = conv(substring(md5(s), 1, 15), 16, 10).cast("long")
    val occ = base
      .select(col("doc_id"), col("len"),
        explode(sequence(lit(1), col("len") - (gram - 1))).as("p"), col("t"))
      .select(col("doc_id"), col("len"), col("p"),
        ghOf(col("t").substr(col("p"), lit(gram))).as("gh"))
    val dup = occ
      .withColumn("occ_n", count(lit(1)).over(w.partitionBy("gh")))
      .where(col("occ_n") > 1)
    val wDoc = w.partitionBy("doc_id").orderBy("p")
    val spans = dup
      .withColumn("prev_p", lag("p", 1).over(wDoc))
      .withColumn("brk",
        when(col("prev_p").isNull || col("p") - col("prev_p") > gram, 1L).otherwise(0L))
      .withColumn("span_id", sum("brk").over(wDoc))
      .groupBy(col("doc_id"), col("len"), col("span_id"))
      .agg(min("p").as("s"), (max("p") + (gram - 1)).as("e"), count(lit(1)).as("npos"))
    spans
      .groupBy("doc_id", "len")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("npos")).as("n_dup_grams"),
        sum((col("e") - col("s") + 1).cast("long")).as("dup_chars"))
      .select(col("doc_id"), col("len").cast("long").as("doc_chars"),
        col("n_spans"), col("n_dup_grams"), col("dup_chars"),
        (col("dup_chars").cast("double") / col("len").cast("double")).as("dup_share"))
      .orderBy("doc_id")
  }

  def substringDupSql(gram: Int = 32): String =
    s"""$corpusSql,
       |norm AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM corpus),
       |base AS (
       |  SELECT doc_id, t, length(t) AS len FROM norm WHERE length(t) >= $gram),
       |occ AS (
       |  SELECT doc_id, len, unnest(generate_series(1, len - ${gram - 1})) AS p, t FROM base),
       |gh AS (SELECT doc_id, len, p,
       |       CAST('0x' || substr(md5(substr(t, CAST(p AS INTEGER), $gram)), 1, 15) AS BIGINT) AS gh
       |       FROM occ),
       |dup AS (
       |  SELECT doc_id, len, p FROM (
       |    SELECT doc_id, len, p, count(*) OVER (PARTITION BY gh) AS occ_n FROM gh)
       |  WHERE occ_n > 1),
       |sp AS (
       |  SELECT doc_id, len, p,
       |         CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
       |                   OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $gram
       |              THEN 1 ELSE 0 END AS brk
       |  FROM dup),
       |sid AS (
       |  SELECT doc_id, len, p,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS span_id FROM sp),
       |spans AS (
       |  SELECT doc_id, len, span_id, min(p) AS s, max(p) + ${gram - 1} AS e,
       |         count(*) AS npos
       |  FROM sid GROUP BY doc_id, len, span_id)
       |SELECT doc_id, CAST(len AS BIGINT) AS doc_chars,
       |       count(*) AS n_spans,
       |       CAST(sum(npos) AS BIGINT) AS n_dup_grams,
       |       CAST(sum(e - s + 1) AS BIGINT) AS dup_chars,
       |       CAST(sum(e - s + 1) AS DOUBLE) / CAST(len AS DOUBLE) AS dup_share
       |FROM spans GROUP BY doc_id, len ORDER BY doc_id""".stripMargin

  def incrementalSql(threshold: Double = 0.6): String =
    s"""$minhashPairsCte,
       |nd AS (SELECT doc_id FROM corpus WHERE doc_id >= 1000000),
       |m AS (
       |  SELECT id_b AS doc_id, id_a AS match_id,
       |         CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
       |  FROM verified WHERE id_a < 1000000 AND id_b >= 1000000),
       |best AS (
       |  SELECT doc_id, match_id, jaccard,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, match_id) AS rn
       |  FROM m)
       |SELECT nd.doc_id, b.match_id, b.jaccard,
       |       CAST(CASE WHEN b.jaccard >= $threshold THEN 0 ELSE 1 END AS BIGINT) AS admitted
       |FROM nd LEFT JOIN (SELECT doc_id, match_id, jaccard FROM best WHERE rn = 1) b USING (doc_id)
       |ORDER BY nd.doc_id""".stripMargin

  /** Winnowing fingerprint duplication profile (Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003 — the MOSS algorithm): each document keeps the
    * MINIMUM 16-char-gram digest of every sliding 8-gram window, a
    * content-defined sample with the winnowing guarantee (any shared
    * substring of ≥ 23 chars shares a fingerprint) and expected density
    * 2/(w+1) — position-shift-robust where fixed-stride chunking
    * (dedup_chunk_hist) breaks on a one-char insert. The
    * fingerprint-multiplicity histogram prices cross-document
    * boilerplate the same way chunk_hist does, but survives edits.
    *
    * Scale shape: gram digests and window minima are pure per-row
    * array expressions over the memoized spread corpus; one explode +
    * digest-key shuffle (map-side combined); the histogram rollup is
    * ≤|distinct multiplicities| keys. Digests are the engine-shared
    * 60-bit md5 prefix, so any collision is shared with the oracle. */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    val grams = normCorpus(spark, dir)
      .select(col("doc_id"),
        transform(sequence(lit(1), greatest(length(col("t")) - 15, lit(1))),
          i => conv(substring(md5(col("t").substr(i, lit(16))), 1, 15), 16, 10)
            .cast("long")).as("g"))
    grams
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(1), greatest(size(col("g")) - 7, lit(1))),
            p => array_min(slice(col("g"), p, lit(8)))))).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_fingerprints"))
      .orderBy("k")
  }

  val winnowingSql: String =
    s"""$corpusSql,
      |d AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      |  FROM corpus),
      |g AS (
      |  SELECT doc_id,
      |         list_transform(generate_series(1, greatest(length(t) - 15, 1)),
      |           i -> CAST('0x' || substr(md5(substr(t, i, 16)), 1, 15) AS BIGINT)) AS g
      |  FROM d),
      |f AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(list_transform(generate_series(1, greatest(len(g) - 7, 1)),
      |           p -> list_min(g[p:p+7])))) AS fp
      |  FROM g),
      |c AS (SELECT fp, count(*) AS k FROM f GROUP BY fp)
      |SELECT k, count(*) AS n_fingerprints FROM c GROUP BY k ORDER BY k""".stripMargin
}
