package graft.operators

import graft.GQuery
import graft.Tables.t
import graft.functions.HashFamily
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document-deduplication operators for a training-data pipeline over the
  * `documents` table: exact (hash group-by), exact n-gram Jaccard with
  * prefix filtering, MinHash+LSH, and SimHash — each designed for the
  * 100 TB shape (inverted-index joins, never an all-pairs cross join).
  *
  * Scale design:
  *  - q24 (exact Jaccard) uses *prefix filtering*: shingles are globally
  *    ordered rarest-first (by document frequency); two docs with
  *    Jaccard ≥ t must share a shingle within their first
  *    |S| − ⌈t·|S|⌉ + 1 shingles, so only those postings are joined. The
  *    candidate set is then verified with full intersection — the result is
  *    exact, which is why it can carry a DuckDB oracle.
  *  - q25 (MinHash) never materializes signatures against each other:
  *    band hashes bucket-join candidates, exact Jaccard verifies. Output is
  *    candidate-recall-dependent (rows-only check; the spec asserts recall
  *    on the planted near-dups).
  *  - q26 (SimHash) uses the pigeonhole block trick: for Hamming ≤ 3 over
  *    64 bits split into 4 blocks, at least one block matches exactly, so
  *    the block join has *perfect* recall at that radius.
  */
object Dedup {

  val JaccardThreshold = 0.8

  /** 63-bit hash derived from md5: hi 31 bits × 2³² + lo 32 bits of the
    * digest prefix. Non-negative and built from pure arithmetic so DuckDB
    * reproduces it exactly (no engine-specific hash like xxhash64, no
    * signed-overflow edge cases under ANSI mode) — this is what makes the
    * MinHash/SimHash pipelines fully oracle-checkable. Production corpora
    * should run the same operators under [[graft.functions.HashFamily.Fast]]
    * (xxhash64, ~10× cheaper per shingle) — the registered oracle queries
    * pin Oracle mode, the bench times Fast mode, and HashFamilySpec proves
    * the *verified* MinHash output is identical across families. */
  def hash63(c: Column): Column = HashFamily.Oracle.hash63(c)

  /** DuckDB rendering of [[hash63]] over SQL fragment `x` (parenthesized —
    * callers may apply operators like `%` that bind tighter than `+`). */
  def hash63Sql(x: String): String =
    s"((('0x' || substr(md5($x),1,8))::BIGINT % 2147483648) * 4294967296 + ('0x' || substr(md5($x),9,8))::BIGINT)"

  /** (doc_id, shingles array<string>) — distinct word 3-grams, lowercase —
    * from any (doc_id, text) DataFrame (batch table or streaming batch). */
  def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), array_distinct(
        expr("transform(sequence(0, size(ws)-3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
        .as("sh"))

  /** (doc_id, shingles array<string>) over the sfDir documents table,
    * served from the per-session [[graft.store.Materialized]] store —
    * every query in the dedup family (q24/q25/q26/q57/q63/q71 + the batch
    * side of the streaming dedup spec) consumes this one relation instead
    * of re-running the 3-gram transform, its dominant local cost. */
  def docShingles(s: SparkSession, dir: String): DataFrame =
    graft.store.Materialized.relation(s, s"shingles:$dir")(
      shinglesOf(t(s, dir, "documents")))

  /** Verify candidate pairs against full shingle sets; returns
    * (doc_a, doc_b, jaccard) with jaccard ≥ threshold.
    *
    * The intersection runs on per-shingle xxhash64 values, not the
    * strings: distinct shingles map to distinct hashes (collision odds
    * ~|A|·|B|/2⁶⁴ ≈ 10⁻¹⁵ per pair — the same collision-freedom the
    * prefix relation's ranking already assumes, and far below any
    * threshold boundary), so counts and jaccard are unchanged while the
    * candidate join ships 8-byte elements instead of ~30-byte strings
    * (~4× less shuffle) and the intersect compares longs instead of
    * hashing strings — the q24 verify stage's dominant cost (profiled at
    * sf0.1: verify 1.8 s → 0.9 s warm). */
  private[graft] def verifyPairs(candidates: DataFrame, shingles: DataFrame, threshold: Double): DataFrame =
    verifyHashedPairs(candidates,
      shingles.select(col("doc_id"), expr("transform(sh, s -> xxhash64(s))").as("sh")),
      threshold)

  /** [[verifyPairs]] over an ALREADY-HASHED (doc_id, sh: array<bigint>)
    * relation — the batch queries hash once per corpus snapshot into the
    * [[docShinglesHashed]] store instead of re-running the per-shingle
    * transform (an interpreted HOF over every shingle of every doc) on
    * every query run. */
  private[graft] def verifyHashedPairs(candidates: DataFrame, hashed: DataFrame, threshold: Double): DataFrame = {
    val a = hashed.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = hashed.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    candidates
      .join(a, "doc_a").join(b, "doc_b")
      // size filter pushes below the intersection: pruned pairs never pay it
      .filter(lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b"))) <=
        least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q23 — exact dedup: canonical text hash → min-doc_id survivor + group
    * size (the A3 "keep one per key" shape on content identity). */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy(md5($"text").as("text_hash"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy($"text_hash")
  }

  private val q23Sql =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper,
      |  CAST(COUNT(*) AS BIGINT) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin

  /** q24 — exact n-gram Jaccard near-dup pairs via prefix filtering.
    * Public as [[ngramJaccardPairs]] so downstream operators (q63
    * clustering) consume the same verified pair set. */
  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = q24(s, dir)

  /** Prefix length |S| − ⌈t·|S|⌉ + 1 for the filter. The 1e-9 slack before
    * the ceil matters: t·n in floating point can land a hair ABOVE an exact
    * integer product (0.8 · 15 = 12.000000000000002), and ceiling that
    * shortens the prefix by one — a silent recall hole exactly at the
    * n ≡ 0 (mod 5) boundaries. Erring the other way only lengthens the
    * prefix by one slot when frac(t·n) < 1e-9, which costs candidates,
    * never pairs. PipelineSpec checks the column against exact integer
    * arithmetic for every n up to 10⁴. */
  private[graft] def prefixLen(n: Column): Column = greatest(
    (n - ceil(lit(JaccardThreshold) * n - lit(1e-9)) + 1).cast("int"), lit(1))

  /** q24's ranked prefix relation — (doc_id, h1, h2, rn, n) for the
    * rarest-first prefix of every document — served from the session
    * [[graft.store.Materialized]] store: the df aggregation + df join +
    * per-doc rank window are the build of the prefix-filter INDEX, a pure
    * function of the corpus snapshot that q24 was re-deriving every run.
    * Plan notes for the build (unchanged): the doc's shingle count rides
    * the explode — no separate corpus-sized `sizes` join; shingle strings
    * collapse to a 128-bit hash pair (two independent xxhash64 draws)
    * before any shuffle, so every exchange moves two longs and the join
    * compares integers. 16 bytes buys an expected collision count of
    * (#distinct shingles)²/2¹²⁹ ≈ 3·10⁻¹⁵ even at 10¹² shingles — which
    * matters beyond candidate noise: the positional filter's bound is
    * only valid when both docs rank tokens under the SAME total order, so
    * the (df, h1, h2) sort key must be collision-free. Raw xxhash64 (not
    * HashFamily) is deliberate — the hashes never reach the output (the
    * verify recomputes true Jaccard on raw shingles), so there is no
    * oracle mode to preserve. dfreq is corpus-sized — one row per
    * distinct shingle — so it is NOT broadcast: shuffle join on the
    * natural key, AQE localizes it when small. */
  /** Bucket count of the prefix/band stores — 16, now MEASURED rather
    * than inherited (the VERDICT r5 watch item asked whether 16 caps the
    * exchange-free self-joins at half this box's 32 cores).
    * BUCKETSWEEP_r06.json (interleaved {16, 32, 64} rounds at sf0.1,
    * identical pair sets required per config): q24 warm min 1.50 s at 16
    * vs 1.65 s at both 32 and 64; q25 0.34 s vs 0.43/0.45. The
    * parallelism-cap hypothesis is refuted at this scale — the stores
    * are small enough that per-task scheduling and file overhead beat
    * the extra cores, and the verify stage (not the bucketed join)
    * dominates q24. On a real cluster size buckets to the per-core scan
    * budget of one bucket of the FULL index (the store key carries the
    * count, so differently-bucketed stores never alias). */
  val StoreBuckets: Int = 16

  def docJaccardPrefixes(s: SparkSession, dir: String): DataFrame = {
    val b = StoreBuckets
    graft.store.Materialized.bucketedRelation(s, s"jprefix:$dir:b$b",
      Seq("h1", "h2"), b) {
      import s.implicits._
      val posting = docShingles(s, dir)
        .select($"doc_id", size($"sh").as("n"), explode($"sh").as("shingle"))
        .select($"doc_id", $"n",
          xxhash64($"shingle").as("h1"), xxhash64($"shingle", lit(2)).as("h2"))
      val dfreq = posting.groupBy($"h1", $"h2").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"df", $"h1", $"h2")
      posting.join(dfreq, Seq("h1", "h2"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= prefixLen($"n"))
        .select($"doc_id", $"h1", $"h2", $"rn", $"n")
    }
  }

  /** Hashed shingle sets (doc_id, sh: array<bigint>) as a session
    * materialized relation: the verify stage only ever compares xxhash64
    * values (see [[verifyPairs]]'s collision note), so the per-shingle
    * hash pass is a pure function of the corpus snapshot — prepare-stage
    * work, paid once per (session, SF) instead of inside every verifying
    * query's warm path (q24/q25/q57/q63/q74). The store is also ~4×
    * narrower than the string shingles it derives from. */
  def docShinglesHashed(s: SparkSession, dir: String): DataFrame =
    graft.store.Materialized.relation(s, s"shinglesh:$dir")(
      docShingles(s, dir).select(col("doc_id"),
        expr("transform(sh, s -> xxhash64(s))").as("sh")))

  private def q24(s: SparkSession, dir: String): DataFrame =
    verifyHashedPairs(jaccardCandidatePairs(s, dir).distinct(),
      docShinglesHashed(s, dir), JaccardThreshold)

  /** q24's candidate generation, pre-distinct — the prefix-store
    * self-join with both prunes, exposed so the stage profiler
    * ([[graft.tools.ProfileQ24]]) measures EXACTLY the shipped join.
    *
    * Length filter: jac ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|);
    * positional filter (PPJoin): a candidate generated at prefix positions
    * (i, j) can reach overlap at most min(i−1, j−1) + 1 + min(|A|−i, |B|−j)
    * — earlier common tokens, this one, later common tokens — which must
    * meet the required overlap t/(1+t)·(|A|+|B|). The bound is valid for
    * EVERY occurrence of a pair (not just the first shared token), so
    * pruning occurrences independently never loses a true pair; both
    * prunes fire inside the join, before the expensive intersection
    * verify. */
  def jaccardCandidatePairs(s: SparkSession, dir: String): DataFrame = {
    val prefixes = docJaccardPrefixes(s, dir)
    val requiredOverlap =
      lit(JaccardThreshold / (1.0 + JaccardThreshold)) * (col("x.n") + col("y.n")) - lit(1e-9)
    val overlapBound =
      least(col("x.rn"), col("y.rn")) - 1 +
        least(col("x.n") - col("x.rn"), col("y.n") - col("y.rn")) + 1
    prefixes.as("x").join(prefixes.as("y"),
        col("x.h1") === col("y.h1") && col("x.h2") === col("y.h2") &&
          col("x.doc_id") < col("y.doc_id") &&
          lit(JaccardThreshold) * greatest(col("x.n"), col("y.n")) <=
          least(col("x.n"), col("y.n")).cast("double") &&
          overlapBound.cast("double") >= requiredOverlap)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
  }

  /** q24's oracle with an extra predicate on the DOCUMENT rows — the q112
    * parameterization (takedowns shrink the servable corpus; the pair
    * semantics are untouched). Mirrors [[Similarity.q28SqlOn]]. */
  private[graft] def q24SqlOn(docPred: String): String =
    s"""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') ws FROM documents
       |           WHERE TRUE$docPred),
       |sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) s
       |       FROM w WHERE len(ws) >= 3),
       |post AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       |pairs AS (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS inter
       |          FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id),
       |sz AS (SELECT doc_id, len(s) AS n FROM sh)
       |SELECT p.i AS doc_a, p.j AS doc_b,
       |  CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
       |FROM pairs p JOIN sz sa ON sa.doc_id = p.i JOIN sz sb ON sb.doc_id = p.j
       |WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  private val q24Sql = q24SqlOn("")

  val MinHashPerms = 64
  val Bands = 16 // × 4 rows

  /** (doc_id, sig array<bigint>[64]) — ONE base hash per shingle, then 64
    * universal-family permutations `(a_k·x + b_k) mod p` in the 31-bit
    * Mersenne field (see [[graft.functions.MinHashParams]] for why the
    * field arithmetic — not an additive combination — is what makes the
    * 64 permutations genuinely independent). Per posting row the cost is
    * one digest + 64 multiply-add-mods, all codegen'd. */
  def minhashSignatures(shingles: DataFrame,
      family: HashFamily = HashFamily.Oracle): DataFrame = {
    import graft.functions.MinHashParams
    val posting = shingles.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .withColumn("x", family.hash63(col("shingle")) % MinHashParams.P)
    val mins: Seq[Column] =
      (0 until MinHashPerms).map(k => min(MinHashParams.perm(k, col("x"))).as(s"h$k"))
    posting.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until MinHashPerms).map(k => col(s"h$k")): _*).as("sig"))
  }

  /** MinHash + LSH banding near-dup pairs: 16 bands × 4 rows, bucket join
    * on (band index, band hash), exact-Jaccard verification. The verify
    * step recomputes true Jaccard on the raw shingle sets, so the output
    * depends on the hash family ONLY through candidate recall — at these
    * band parameters a true pair at jaccard ≥ 0.8 is missed with
    * probability (1 − 0.8⁴)¹⁶ ≈ 2·10⁻⁴, and HashFamilySpec asserts both
    * families verify the identical pair set on the test corpora. */
  /** (doc_id, band, bhash) LSH bucket keys for a shingle DataFrame — the
    * unit both the batch pipeline and the incremental streaming index
    * share, so their candidate spaces are definitionally identical. */
  def bandsOf(shingles: DataFrame, family: HashFamily): DataFrame = {
    val sig = minhashSignatures(shingles, family)
    sig.select(col("doc_id"), posexplode(
      array((0 until Bands).map(b =>
        family.hash63(concat_ws(",", (0 until 4).map(r => col("sig")(b * 4 + r).cast("string")): _*))): _*)))
      .toDF("doc_id", "band", "bhash")
  }

  /** The LSH band-bucket table of the sfDir corpus, served from the
    * per-session [[graft.store.Materialized]] store keyed by hash family
    * — the "build the index once" stage of an LSH dedup pass. Computing
    * the 64 MinHash permutations over every posting is the dominant cost
    * of q25/q57; like the shingle/token stores it is a pure function of
    * the immutable corpus snapshot, so consumers pay a columnar scan and
    * the one-time build stays visible in the bench's cold column. (The
    * streaming path keeps its own persisted band index — `DedupStream` —
    * built incrementally from batches, never from this store.) */
  def docBands(s: SparkSession, dir: String, family: HashFamily): DataFrame = {
    val b = StoreBuckets
    graft.store.Materialized.bucketedRelation(s, s"bands:$family:$dir:b$b",
      Seq("band", "bhash"), b)(
      bandsOf(docShingles(s, dir), family))
  }

  /** LSH candidate pairs (pre-verification) from a band-bucket relation —
    * the self-join both the batch pipeline and the recall spec share, so
    * the recall that HashFamilySpec certifies is the recall of exactly
    * the candidate set q25/q57 verify. */
  def lshCandidates(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  def minhashLshPairs(s: SparkSession, dir: String, family: HashFamily): DataFrame =
    verifyHashedPairs(lshCandidates(docBands(s, dir, family)),
      docShinglesHashed(s, dir), JaccardThreshold)

  /** q25 — MinHash+LSH in Oracle mode: the whole pipeline (hash63
    * permutations → band buckets → verified Jaccard) is deterministic and
    * SQL-expressible, so it carries a full DuckDB oracle. The bench times
    * the Fast (xxhash64) family on the same operator — the production
    * configuration — while this oracle mode remains the correctness gate. */
  private def q25(s: SparkSession, dir: String): DataFrame =
    minhashLshPairs(s, dir, HashFamily.Oracle)

  private val q25Sql = {
    import graft.functions.MinHashParams
    val bh = hash63Sql("string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k)")
    s"""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') ws FROM documents),
       |sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) s
       |       FROM w WHERE len(ws) >= 3),
       |post AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       |coef AS (${MinHashParams.coefSql(MinHashPerms)}),
       |hmap AS (SELECT doc_id, ${hash63Sql("shingle")} % ${MinHashParams.P} AS x FROM post),
       |hmin AS (SELECT doc_id, k, MIN((a * x + b) % ${MinHashParams.P}) AS mh
       |         FROM hmap CROSS JOIN coef GROUP BY doc_id, k),
       |bands AS (SELECT doc_id, k // 4 AS band, $bh AS bhash
       |          FROM hmin GROUP BY doc_id, k // 4),
       |cand AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bhash = y.bhash AND x.doc_id < y.doc_id),
       |pairs AS (SELECT c.i, c.j, len(list_intersect(sa.s, sb.s)) AS inter,
       |                 len(sa.s) AS na, len(sb.s) AS nb
       |          FROM cand c JOIN sh sa ON sa.doc_id = c.i JOIN sh sb ON sb.doc_id = c.j)
       |SELECT i AS doc_a, j AS doc_b,
       |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
       |FROM pairs WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val SimHashBits = 64
  val HammingRadius = 3

  /** (doc_id, simhash bigint) — sign-aggregated token hashes. Tokens are
    * pre-counted per (doc, token) so the 64-column bit aggregation runs
    * over the much smaller distinct-token relation (weight = count).
    *
    * Note: [[hash63]] never sets bit 63, so the fingerprint is effectively
    * 63 bits and the 4th pigeonhole block carries 15 discriminating bits —
    * its buckets collide ~2× more often than the other blocks', which only
    * inflates that block's candidate set; the exact Hamming verify keeps
    * the output identical. The trade buys full DuckDB reproducibility.
    *
    * Unlike MinHash, the SimHash *verify* metric (Hamming distance) is
    * computed on the family-dependent fingerprint itself, so Oracle and
    * Fast outputs are different-but-equally-valid sketch spaces; the
    * HashFamilySpec gates the Fast family on planted-near-dup recall
    * rather than output identity. */
  def simhashFingerprints(s: SparkSession, dir: String,
      family: HashFamily = HashFamily.Oracle): DataFrame = {
    import s.implicits._
    // per-doc term counts from the materialized tf store (the shared
    // explode + (doc, term) aggregate q26/q34/q68 consume) — only the
    // family hash is computed here, per DISTINCT (doc, term) row
    val tokens = TextOps.docTermFreqs(s, dir)
      .select($"doc_id", $"term".as("tok"), $"tf".as("cnt"))
      .withColumn("h", family.hash63($"tok"))
    val bitSums: Seq[Column] = (0 until SimHashBits).map { j =>
      sum(when(shiftright($"h", j).bitwiseAND(1L) === 1L, $"cnt").otherwise(-$"cnt")).as(s"b$j")
    }
    tokens.groupBy($"doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id",
        (0 until SimHashBits).map(j =>
          when(col(s"b$j") > 0L, lit(1L << j)).otherwise(lit(0L)): Column)
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs at Hamming ≤ 3 via the 4-block pigeonhole
    * join (perfect recall at this radius, no all-pairs scan). */
  def simhashPairs(s: SparkSession, dir: String, family: HashFamily): DataFrame = {
    import s.implicits._
    val fp = simhashFingerprints(s, dir, family).cache()
    val blocks = fp.select($"doc_id", $"simhash", posexplode(
      array((0 until 4).map(b =>
        shiftright($"simhash", b * 16).bitwiseAND(0xFFFFL)): _*)))
      .toDF("doc_id", "simhash", "block", "bval")
    val candidates = blocks.as("x").join(blocks.as("y"),
        col("x.block") === col("y.block") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.simhash").as("sim_a"),
        col("y.doc_id").as("doc_b"), col("y.simhash").as("sim_b"))
      .distinct()
    candidates
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= HammingRadius)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q26 — SimHash in Oracle mode (the DuckDB-checkable fingerprint). */
  private def q26(s: SparkSession, dir: String): DataFrame =
    simhashPairs(s, dir, HashFamily.Oracle)

  private val q26Sql = {
    val h = hash63Sql("tok")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents),
       |tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok),
       |th AS (SELECT doc_id, cnt, $h AS h FROM tc),
       |bits AS (SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS s
       |         FROM th, range($SimHashBits) t(j) GROUP BY doc_id, j),
       |fp AS (SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
       |       FROM bits GROUP BY doc_id),
       |blocks AS (SELECT doc_id, simhash, b, (simhash >> CAST(b * 16 AS INTEGER)) & 65535 AS bval
       |           FROM fp, range(4) t(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS i, x.simhash AS si, y.doc_id AS j, y.simhash AS sj
       |         FROM blocks x JOIN blocks y
       |           ON x.b = y.b AND x.bval = y.bval AND x.doc_id < y.doc_id)
       |SELECT i AS doc_a, j AS doc_b, CAST(bit_count(xor(si, sj)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(si, sj)) <= $HammingRadius
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q56 — per-source duplication report: for each ingest source, how many
    * documents exist and how many share their exact content hash with at
    * least one other document (cross-source duplicates count for both
    * sources). The standard corpus-health metric a dedup pass is judged
    * by; two hash-keyed aggregations, no all-pairs anything. */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents").select($"source", md5($"text").as("h"))
    val copies = d.groupBy($"h").agg(count(lit(1)).as("copies"))
    d.join(copies, "h")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"copies" > 1L, 1L).otherwise(0L)).as("n_duplicated"))
      .orderBy($"source")
  }

  private val q56Sql =
    """WITH d AS (SELECT source, md5(text) AS h FROM documents),
      |c AS (SELECT h, COUNT(*) AS copies FROM d GROUP BY h)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN c.copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicated
      |FROM d JOIN c ON d.h = c.h GROUP BY source ORDER BY source""".stripMargin

  /** q57 — the Fast (xxhash64) MinHash+LSH production mode as its own
    * oracled query. The oracle is the EXACT n-gram Jaccard pair set (the
    * q24 SQL): because the verify step recomputes true Jaccard on raw
    * shingles, the LSH output equals the exact pair set whenever candidate
    * recall is 1.0 — which these band parameters give with per-pair miss
    * probability ≤ 2·10⁻⁴ at the 0.8 threshold (far lower on the planted
    * dups, whose jaccard ≥ 0.9). The gate is deliberately *stronger* than
    * rows-only: a recall miss or a hash-family bug fails it.
    *
    * The probabilistic argument is pinned CRISPLY by HashFamilySpec's
    * "candidate recall == 1.0" test, which asserts that every exact q24
    * pair appears in [[lshCandidates]] under BOTH families at the
    * registered corpus scales (and reports the candidate counts) — so a
    * future corpus or parameter change that loses a pair fails that spec
    * loudly instead of flaking this oracle's hash compare. */
  private def q57(s: SparkSession, dir: String): DataFrame =
    minhashLshPairs(s, dir, HashFamily.Fast)

  /** q63 — near-dup clustering + canonical selection: the *action* step of
    * a dedup pass. The verified q24 pair set becomes an undirected graph;
    * connected components assign every near-duplicated document a cluster
    * (GraphX CC label = the component's minimum doc_id, which doubles as
    * the canonical-survivor rule: keep ⇔ doc_id = cluster_id). Output is
    * one row per document that has at least one near-dup.
    *
    * Scale: the edge set is the *verified* pair list (≪ corpus — dup
    * volume, not data volume), CC supersteps are bounded by cluster
    * diameter (near-dup clusters are shallow star/clique shapes), and the
    * cluster-size join shuffles only the clustered slice. Nothing here
    * touches unclustered documents after the q24 prefix-filter pass. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = q63(s, dir)

  private def q63(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    import s.implicits._
    val pairs = ngramJaccardPairs(s, dir).select($"doc_a", $"doc_b")
    val g = Graph.fromEdges(
      pairs.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1.0)), 0L)
    // stays distributed: CC label table is never collected to the driver
    val lab = s.createDataFrame(
        g.connectedComponents().vertices.map { case (id, c) => (id, c) })
      .toDF("doc_id", "cluster_id")
    val sizes = lab.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, "cluster_id")
      .select($"doc_id", $"cluster_id", $"cluster_size".cast("long").as("cluster_size"),
        ($"doc_id" === $"cluster_id").as("keep"))
      .orderBy($"doc_id")
  }

  /** Oracle: transitive closure of the q24 pair set as a recursive CTE
    * (UNION-dedup'd reachability), component label = min reachable id —
    * the same min-label semantics GraphX CC converges to. */
  private[graft] def q63SqlShared: String = q63SqlOn("")

  /** q63's oracle over the corpus restricted by a document predicate —
    * the q112 parameterization: clusters recomputed from scratch on the
    * SURVIVING documents, which is exactly what the takedown-maintaining
    * stream must still equal. */
  private[graft] def q63SqlOn(docPred: String): String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM (${q24SqlOn(docPred)}) q),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT u FROM edges),
       |reach(u, v) AS (
       |  SELECT u, u FROM nodes
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v),
       |lab AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
       |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |       FROM lab GROUP BY cluster_id)
       |SELECT l.doc_id, l.cluster_id, sz.cluster_size, l.doc_id = l.cluster_id AS keep
       |FROM lab l JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin

  /** q71 — cross-source duplication matrix: for every source pair, how
    * many verified near-dup pairs (q24) connect them — q56 says how much
    * each source duplicates, this says WITH WHOM: the ingest-provenance
    * view that tells a crawl operator which feeds mirror each other.
    * (Exact content hashes would be the cheaper key, but this corpus's
    * exact dups never cross sources — the near-dup graph is where the
    * cross-feed signal lives.) Source pairs are least/greatest-normalized
    * so direction doesn't split counts; the doc→source joins touch only
    * the verified pair list (dup volume, not corpus volume). */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = t(s, dir, "documents").select($"doc_id", $"source")
    ngramJaccardPairs(s, dir)
      .join(src.toDF("doc_a", "src_a"), "doc_a")
      .join(src.toDF("doc_b", "src_b"), "doc_b")
      .groupBy(least($"src_a", $"src_b").as("source_a"),
        greatest($"src_a", $"src_b").as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .select($"source_a", $"source_b", $"n_pairs".cast("long").as("n_pairs"))
      .orderBy($"source_a", $"source_b")
  }

  private val q71Sql =
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($q24Sql) q),
       |src AS (SELECT doc_id, source FROM documents)
       |SELECT LEAST(a.source, b.source) AS source_a,
       |  GREATEST(a.source, b.source) AS source_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM pairs p JOIN src a ON a.doc_id = p.doc_a JOIN src b ON b.doc_id = p.doc_b
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  val SpanGram = 8

  /** q74 — exact duplicated-substring spans: for every document, the
    * maximal runs of consecutive token positions whose word
    * [[SpanGram]]-grams each also occur in at least one OTHER document —
    * the "exact substring dedup" pass of Lee et al. 2022 (Deduplicating
    * Training Data Makes Language Models Better), which trims repeated
    * boilerplate/quotations instead of dropping whole near-dup docs.
    * Their suffix-array ExactSubstr is a single-machine structure; the
    * distributed re-expression is an inverted index over positional
    * k-grams + a gaps-and-islands merge:
    *
    *   1. (doc, pos, gram-hash) — positional k-grams, hashed to 63 bits
    *      before any shuffle (8-byte keys, not ~50-byte strings);
    *   2. grams spanning ≥ 2 distinct docs via one groupBy(h) — the
    *      HAVING min≠max form needs no distinct-count state;
    *   3. flagged positions per doc merged into maximal spans with the
    *      pos − row_number() island trick — the window partitions by
    *      doc_id, so each document sorts only its own flagged positions.
    *
    * Every shuffle key is either the gram hash or the doc id; nothing is
    * ever doc×doc. A span of n_grams consecutive duplicated k-grams
    * covers n_grams + k − 1 tokens ([span_start, span_end)). */
  def duplicatedSpans(s: SparkSession, dir: String,
      family: HashFamily = HashFamily.Oracle): DataFrame = {
    import s.implicits._
    val terms = (0 until SpanGram).map(i => s"ws[i+$i]").mkString(", ")
    val pos = TextOps.docTokens(s, dir)
      .filter(size($"ws") >= SpanGram)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, size(ws)-$SpanGram), i -> concat_ws(' ', $terms))")))
      .toDF("doc_id", "pos", "g")
      .select($"doc_id", $"pos", family.hash63($"g").as("h"))
    val dup = pos.groupBy($"h")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .filter($"mn" =!= $"mx")
      .select($"h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    pos.join(dup, "h")
      .select($"doc_id", $"pos")
      .withColumn("grp", $"pos" - row_number().over(w))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("span_start"), max($"pos").as("last_g"),
        count(lit(1)).as("n_grams"))
      .select($"doc_id", $"span_start".cast("long").as("span_start"),
        ($"last_g" + SpanGram).cast("long").as("span_end"),
        ($"last_g" + SpanGram - $"span_start").cast("long").as("span_tokens"),
        $"n_grams".cast("long").as("n_grams"))
      .orderBy($"doc_id", $"span_start")
  }

  private def q74(s: SparkSession, dir: String): DataFrame =
    duplicatedSpans(s, dir, HashFamily.Oracle)

  private val q74Sql = {
    val terms = (1 to SpanGram).map(i => s"ws[i+${i - 1}]").mkString(" || ' ' || ")
    val h = hash63Sql("p0.s.g")
    s"""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') ws FROM documents),
       |p0 AS (SELECT doc_id, unnest([{'pos': i - 1, 'g': $terms}
       |         for i in range(1, len(ws) - ${SpanGram - 2})]) AS s
       |       FROM w WHERE len(ws) >= $SpanGram),
       |p AS (SELECT doc_id, p0.s.pos AS pos, $h AS h FROM p0),
       |dup AS (SELECT h FROM p GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
       |f AS (SELECT doc_id, pos FROM p JOIN dup USING (h)),
       |i AS (SELECT doc_id, pos,
       |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f),
       |a AS (SELECT doc_id, grp, MIN(pos) AS span_start, MAX(pos) AS last_g,
       |        COUNT(*) AS n_grams FROM i GROUP BY doc_id, grp)
       |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       |  CAST(last_g + $SpanGram AS BIGINT) AS span_end,
       |  CAST(last_g + $SpanGram - span_start AS BIGINT) AS span_tokens,
       |  CAST(n_grams AS BIGINT) AS n_grams
       |FROM a ORDER BY doc_id, span_start""".stripMargin
  }

  val all: Seq[GQuery] = Seq(
    GQuery("q23_exact_dedup", q23, Some(q23Sql)),
    GQuery("q24_ngram_jaccard_pairs", q24, Some(q24Sql), bench = true),
    GQuery("q25_minhash_lsh_pairs", q25, Some(q25Sql), bench = true,
      benchRun = Some((s, d) => minhashLshPairs(s, d, HashFamily.Fast))),
    GQuery("q26_simhash_pairs", q26, Some(q26Sql), bench = true,
      benchRun = Some((s, d) => simhashPairs(s, d, HashFamily.Fast))),
    GQuery("q56_source_dup_report", q56, Some(q56Sql)),
    GQuery("q57_minhash_lsh_fast", q57, Some(q24Sql)),
    GQuery("q63_dedup_clusters", q63, Some(q63SqlShared)),
    GQuery("q71_source_overlap", q71, Some(q71Sql)),
    GQuery("q74_dup_spans", q74, Some(q74Sql)),
  )
}
