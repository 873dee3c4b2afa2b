package graft.operators

import graft.GQuery
import graft.Tables.t
import graft.functions.HashFamily
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`: token counting (whitespace and
  * BPE-ish regex), quality scoring, language-ID heuristic, document
  * fingerprinting, and corpus word statistics. All pure column expressions
  * (codegen'd, no UDFs) with exact DuckDB oracles.
  */
object TextOps {

  /** (doc_id, source, ws array<string>) — lowercase whitespace tokens —
    * from any (doc_id, source, text) DataFrame (batch table or streaming
    * batch). */
  def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      split(lower(trim(col("text"))), "\\s+").as("ws"))

  /** The tokenized corpus, served from the per-session
    * [[graft.store.Materialized]] store — the token half of the
    * shingle-store contract: every whitespace-token consumer
    * (q34/q53/q59/q60/q65/q66/q68/q70) scans this one columnar relation
    * instead of re-splitting `documents.text`, which is otherwise the
    * dominant repeated local cost of the text-analysis family. */
  def docTokens(s: SparkSession, dir: String): DataFrame =
    graft.store.Materialized.relation(s, s"tokens:$dir")(
      tokensOf(t(s, dir, "documents")))

  /** q30 — token counting: whitespace tokens + BPE-ish regex tokens
    * (letter runs / digits / single punctuation). */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(lower($"text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        length($"text").cast("long").as("n_chars"))
      .orderBy($"doc_id")
  }

  private val q30Sql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q31 — language-ID n-gram/stopword heuristic: score stopword hits per
    * language, argmax with fixed priority. (The synthetic corpus shares one
    * vocabulary, so the honest answer is mostly 'en' — determinism over
    * data realism.) */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def hits(pat: String) =
      size(regexp_extract_all(lower($"text"), lit(pat), lit(0))).cast("long")
    val en = hits("\\b(the|a|of|and|to|in)\\b")
    val de = hits("\\b(der|die|das|und|ist|ein)\\b")
    val fr = hits("\\b(le|la|les|et|est|une)\\b")
    val es = hits("\\b(el|los|las|y|es|una)\\b")
    t(s, dir, "documents")
      .select($"doc_id", $"lang".as("labeled_lang"),
        en.as("en_hits"), de.as("de_hits"), fr.as("fr_hits"), es.as("es_hits"))
      .withColumn("pred_lang",
        when($"de_hits" > $"en_hits" && $"de_hits" >= $"fr_hits" && $"de_hits" >= $"es_hits", "de")
          .when($"fr_hits" > $"en_hits" && $"fr_hits" >= $"es_hits", "fr")
          .when($"es_hits" > $"en_hits", "es")
          .when($"en_hits" > 0, "en")
          .otherwise("unknown"))
      .select($"doc_id", $"pred_lang", $"labeled_lang",
        ($"pred_lang" === $"labeled_lang").as("agree"))
      .orderBy($"doc_id")
  }

  private val q31Sql =
    """WITH h AS (SELECT doc_id, lang AS labeled_lang,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in)\b')) AS BIGINT) AS en_hits,
      |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS BIGINT) AS de_hits,
      |  CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une)\b')) AS BIGINT) AS fr_hits,
      |  CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|una)\b')) AS BIGINT) AS es_hits
      |  FROM documents),
      |p AS (SELECT doc_id, labeled_lang,
      |  CASE WHEN de_hits > en_hits AND de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
      |       WHEN fr_hits > en_hits AND fr_hits >= es_hits THEN 'fr'
      |       WHEN es_hits > en_hits THEN 'es'
      |       WHEN en_hits > 0 THEN 'en'
      |       ELSE 'unknown' END AS pred_lang
      |  FROM h)
      |SELECT doc_id, pred_lang, labeled_lang, pred_lang = labeled_lang AS agree
      |FROM p ORDER BY doc_id""".stripMargin

  /** q32 — quality scoring: length / stopword-ratio / punctuation-ratio
    * features folded into a bounded score. Single-division doubles only. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nWords = size(split(trim($"text"), "\\s+")).cast("double")
    val stopHits = size(regexp_extract_all(lower($"text"),
      lit("\\b(the|a|of|and|to|in|is|was)\\b"), lit(0))).cast("double")
    val punct = size(regexp_extract_all($"text", lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("double")
    val chars = length($"text").cast("double")
    t(s, dir, "documents")
      .select($"doc_id",
        nWords.cast("long").as("n_words"),
        round(stopHits / nWords, 6).as("stopword_ratio"),
        round(punct / chars, 6).as("punct_ratio"),
        round(least(nWords / 200.0, lit(1.0)), 6).as("length_score"))
      .orderBy($"doc_id")
  }

  private val q32Sql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
      |  ROUND(CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|was)\b')) AS DOUBLE)
      |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 6) AS stopword_ratio,
      |  ROUND(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
      |    / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
      |  ROUND(LEAST(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 200.0, 1.0), 6) AS length_score
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q33 — document fingerprinting: canonical-form MD5 (whitespace
    * collapsed, lowercased) + 64-bit prefix for compact storage. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val canon = regexp_replace(lower(trim($"text")), "\\s+", " ")
    t(s, dir, "documents")
      .select($"doc_id", md5(canon).as("fingerprint"),
        substring(md5(canon), 1, 16).as("fp64"))
      .orderBy($"doc_id")
  }

  private val q33Sql =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp64
      |FROM documents ORDER BY doc_id""".stripMargin

  /** (doc_id, dl, term, tf) — per-document term frequencies (dl = the
    * doc's token count, constant within a doc so it rides the group key
    * for free), served from the per-session
    * [[graft.store.Materialized]] store: the explode + (doc, term)
    * aggregate over corpus token volume is the shared prepare stage of
    * the frequency family — q26's SimHash weights, q34's corpus counts,
    * q68's TF-IDF — and was re-run inside each consumer's warm path.
    * Downstream aggregates run over the distinct-(doc, term) relation
    * (Zipf: ≪ occurrence volume), the q115 distinct-words lesson. */
  def docTermFreqs(s: SparkSession, dir: String): DataFrame =
    graft.store.Materialized.relation(s, s"tf:$dir") {
      docTokens(s, dir)
        .select(col("doc_id"), size(col("ws")).as("dl"), explode(col("ws")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    }

  /** q34 — corpus word frequency (A4 explode→aggregate shape): top 20.
    * Re-aggregates the materialized per-doc term frequencies (Σ tf per
    * term ≡ the occurrence count) instead of re-exploding the corpus. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docTermFreqs(s, dir)
      .groupBy($"term".as("word")).agg(sum($"tf").as("freq"))
      .orderBy($"freq".desc, $"word")
      .limit(20)
  }

  private val q34Sql =
    """SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents)
      |GROUP BY word ORDER BY freq DESC, word LIMIT 20""".stripMargin

  val SketchCapacity = 4096
  val HeavyPerMille = 2 // heavy = frequency ≥ 0.2% of all tokens

  /** q53 — exact heavy tokens via a two-pass sketch plan: pass 1 aggregates
    * the corpus into a Misra-Gries summary (`TypedImperativeAggregate`,
    * map-side partials + one tiny merged state — never a full token
    * group-by), pass 2 recounts ONLY the ≤ [[SketchCapacity]] candidates
    * exactly and keeps those ≥ 0.2% of total tokens. Recall is guaranteed
    * (0.2% > 1/4096 of the stream), so the output is exact and
    * deterministic — the oracle is the plain GROUP BY/HAVING it avoids
    * running over the full corpus. At 100 TB pass 1 is a shuffle-free scan
    * and pass 2 touches a broadcast-filtered sliver. */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = docTokens(s, dir)
      .select(explode($"ws").as("tok"))
    // sketch candidates AND the total token count in ONE corpus pass (a
    // separate count(*) agg would be a third full tokenization scan);
    // the 1-row result is cached so its two consumers don't recompute it
    val sketch = toks
      .agg(graft.functions.HeavyHitters.candidates($"tok", SketchCapacity).as("cand"),
        count(lit(1)).as("total"))
      .cache()
    val cands = sketch.select(explode($"cand").as("tok"))
    val totals = sketch.select($"total")
    toks.join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter($"cnt" * 1000L >= $"total" * HeavyPerMille)
      .select($"tok", $"cnt")
      .orderBy($"tok")
  }

  private val q53Sql =
    s"""WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
       |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok)
       |SELECT tok, cnt FROM c, tot WHERE cnt * 1000 >= tot.n * $HeavyPerMille
       |ORDER BY tok""".stripMargin

  /** q59 — within-document repetition (the Gopher-class quality filter:
    * heavily repeated n-grams inside ONE document signal boilerplate /
    * degenerate text). Per document over word 2-grams: total, distinct,
    * the highest single-gram repeat count, and the repeated fraction.
    * One groupBy(doc, gram) + one groupBy(doc) — per-document work only,
    * embarrassingly parallel, no cross-document state at any scale. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = docTokens(s, dir)
      .filter(size($"ws") >= 2)
      .select($"doc_id", explode(
        expr("transform(sequence(0, size(ws)-2), i -> concat_ws(' ', ws[i], ws[i+1]))")).as("g"))
    grams.groupBy($"doc_id", $"g").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_grams"), count(lit(1)).as("n_distinct"),
        max($"cnt").as("max_repeat"))
      // single division of exact integers — IEEE-exact on both engines
      .withColumn("rep_fraction",
        ($"n_grams" - $"n_distinct").cast("double") / $"n_grams".cast("double"))
      .select($"doc_id", $"n_grams".cast("long").as("n_grams"),
        $"n_distinct".cast("long").as("n_distinct"),
        $"max_repeat".cast("long").as("max_repeat"), $"rep_fraction")
      .orderBy($"doc_id")
  }

  private val q59Sql =
    """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') ws FROM documents),
      |g AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g
      |      FROM w WHERE len(ws) >= 2),
      |c AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g GROUP BY doc_id, g),
      |a AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
      |        CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(cnt) AS BIGINT) AS max_repeat
      |      FROM c GROUP BY doc_id)
      |SELECT doc_id, n_grams, n_distinct, max_repeat,
      |  CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) AS rep_fraction
      |FROM a ORDER BY doc_id""".stripMargin

  /** Deterministic eval-set membership for q60: doc_id ≡ 0 (mod 10) — a
    * 10% held-out split that the synthetic corpus's planted near-dups
    * actually contaminate at every scale factor (6–46 flagged docs at
    * sf0.001–0.1; a modulus whose eval set missed the dup structure would
    * make this gate vacuously green). */
  val EvalMod = 10L
  val ContaminationGram = 8

  /** q60 — train/eval decontamination: flag every training document that
    * shares at least one word 8-gram with any held-out eval document (the
    * standard benchmark-leakage sweep run before LLM training). The probe
    * is an inverted-index equi-join on the gram — never a doc×doc
    * comparison; at production scale the eval side is a fixed benchmark
    * suite, small enough that Catalyst broadcasts its gram set, making
    * the whole sweep one map-side pass over the corpus. Here the eval
    * set is a corpus fraction, so the shuffle join is the honest plan. */
  /** (doc_id, g) — distinct word 8-grams per (doc_id, text) row, the probe
    * unit the exact (q60) and Bloom (q66) decontamination sweeps and the
    * streaming contamination monitor share. */
  def contaminationGramsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    contaminationGramsFromWs(
      docs.select($"doc_id", split(lower(trim($"text")), "\\s+").as("ws")))
  }

  /** Same gram relation from a pre-tokenized (doc_id, ws) input — the
    * batch path through the materialized token store. */
  def contaminationGramsFromWs(toks: DataFrame): DataFrame = {
    import toks.sparkSession.implicits._
    val terms = (0 until ContaminationGram).map(i => s"ws[i+$i]").mkString(", ")
    toks
      .filter(size($"ws") >= ContaminationGram)
      .select($"doc_id", explode(array_distinct(expr(
        s"transform(sequence(0, size(ws)-$ContaminationGram), i -> concat_ws(' ', $terms))"))).as("g"))
  }

  private def contaminationGrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    contaminationGramsFromWs(docTokens(s, dir).select($"doc_id", $"ws"))
  }

  def decontaminationReport(s: SparkSession, dir: String): DataFrame = q60(s, dir)

  private def q60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = contaminationGrams(s, dir)
    val eval = grams.filter($"doc_id" % EvalMod === 0L)
      .select($"g", $"doc_id".as("eval_id"))
    grams.filter($"doc_id" % EvalMod =!= 0L)
      .join(eval, "g")
      .groupBy($"doc_id")
      .agg(count_distinct($"g").as("n_shared"), min($"eval_id").as("first_eval"))
      .select($"doc_id", $"n_shared".cast("long").as("n_shared"), $"first_eval")
      .orderBy($"doc_id")
  }

  private[operators] def q60SqlShared: String = q60Sql

  private val q60Sql = {
    val terms = (1 to ContaminationGram).map(i => s"ws[i+${i - 1}]").mkString(" || ' ' || ")
    s"""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') ws FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct([$terms
       |        for i in range(1, len(ws) - ${ContaminationGram - 2})])) AS g
       |      FROM w WHERE len(ws) >= $ContaminationGram),
       |ev AS (SELECT g, doc_id AS eval_id FROM g WHERE doc_id % $EvalMod = 0),
       |tr AS (SELECT doc_id, g FROM g WHERE doc_id % $EvalMod <> 0)
       |SELECT tr.doc_id, CAST(COUNT(DISTINCT tr.g) AS BIGINT) AS n_shared,
       |  MIN(ev.eval_id) AS first_eval
       |FROM tr JOIN ev ON tr.g = ev.g
       |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin
  }

  /** PII patterns shared by the Spark operator and the DuckDB oracle —
    * restricted to the syntax intersection of Java regex and RE2 (no
    * lookaround, no backreferences) so both engines match identically. */
  val EmailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** q64 — PII detection + redaction (the scrub pass every training corpus
    * runs): count and mask emails, IPv4 addresses, and phone numbers.
    * Pure per-row regexp projections — no shuffle, embarrassingly parallel
    * at any corpus size; the only aggregate-free scan in the dedup family.
    *
    * The synthetic corpus contains no PII (verified: zero matches), so the
    * gate would be vacuous on raw `text`; instead each document is
    * augmented with PII derived deterministically from its doc_id — BOTH
    * engines build the identical augmented text, and the md5 of the fully
    * redacted output pins every replacement the scrubber makes (a wrong
    * boundary, ordering, or replacement token shifts the hash). */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aug = concat($"text",
      lit(" contact user"), $"doc_id".cast("string"), lit("@mail.example.com from 10."),
      ($"doc_id" % 200).cast("string"), lit("."), ($"doc_id" % 250).cast("string"),
      lit("."), ($"doc_id" % 100).cast("string"),
      lit(" call 555-"), lpad(($"doc_id" % 1000).cast("string"), 3, "0"),
      lit("-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
    // email first (its local part can contain digits the other patterns
    // could clip), then IP, then phone — the same fixed order both sides
    val red = regexp_replace(regexp_replace(regexp_replace(aug,
      EmailPat, "<EMAIL>"), Ipv4Pat, "<IP>"), PhonePat, "<PHONE>")
    t(s, dir, "documents")
      .select($"doc_id",
        size(regexp_extract_all(aug, lit(EmailPat), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(aug, lit(Ipv4Pat), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all(aug, lit(PhonePat), lit(0))).cast("long").as("n_phones"),
        length(red).cast("long").as("red_len"),
        md5(red).as("red_hash"))
      .orderBy($"doc_id")
  }

  private val q64Sql = {
    // DuckDB single-quoted literals take backslashes verbatim, so the
    // shared pattern constants drop straight in
    val (email, ip, phone) = (EmailPat, Ipv4Pat, PhonePat)
    s"""WITH a AS (SELECT doc_id,
       |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com from 10.' ||
       |  CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) || '.' ||
       |  CAST(doc_id % 100 AS VARCHAR) || ' call 555-' ||
       |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
       |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
       |  FROM documents),
       |r AS (SELECT doc_id, aug,
       |  regexp_replace(regexp_replace(regexp_replace(aug,
       |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS red
       |  FROM a)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(aug, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(aug, '$phone')) AS BIGINT) AS n_phones,
       |  CAST(length(red) AS BIGINT) AS red_len,
       |  md5(red) AS red_hash
       |FROM r ORDER BY doc_id""".stripMargin
  }

  val BloomBits = 1 << 21 // m
  val BloomHashes = 7 // j

  /** q66 — Bloom-filter decontamination: the scale path of q60. q60's
    * gram⋈gram shuffle join is the honest plan when the eval split is a
    * corpus fraction, but the production scenario is a small fixed
    * benchmark suite against a 100 TB corpus — there the right plan is a
    * Bloom filter over the eval grams, broadcast to every executor, and a
    * single map-side pass over the training grams (the corpus-sized
    * relation is never shuffled).
    *
    * Zero-UDF, exactly-oracled construction: bit positions are
    * `perm_k(hash63(g) mod p) mod m` for k < j — the same universal-family
    * arithmetic DuckDB already replicates — and the filter itself is the
    * distinct eval position set as a relation. Spark broadcasts it; a
    * train gram passes iff all j of its position rows hit (count = j; a
    * gram whose j perms collide on a bit still yields j matched rows, one
    * per perm). Output includes Bloom false positives BY DESIGN — the
    * oracle builds the identical filter, so rows+hash still match exactly,
    * and the spec pins the no-false-negative guarantee against q60. */
  /** (doc_id, xid, p) Bloom position rows for a gram relation — gram
    * identity is the full 63-bit hash (collisions ~2⁻⁶³·pairs); only the
    * perm input reduces mod p. Shared by q66 and the streaming monitor. */
  def bloomPositions(grams: DataFrame): DataFrame = {
    import graft.functions.MinHashParams
    import grams.sparkSession.implicits._
    grams.withColumn("xid", HashFamily.Oracle.hash63($"g"))
      .withColumn("x", $"xid" % MinHashParams.P)
      .select($"doc_id", $"xid", explode(array(
        (0 until BloomHashes).map(k => MinHashParams.perm(k, $"x") % BloomBits): _*)).as("p"))
  }

  /** Probe a document batch's position rows against a distinct eval bit
    * set: (doc_id, n_flagged) for docs with ≥ 1 fully-hit gram. The pass
    * condition compares the hit count against the gram's own position-row
    * count (`npos`), not against j: two perms colliding on one bit produce
    * duplicate rows on BOTH sides of the comparison (each duplicate
    * matches iff the bit is set), so the multiplicities cancel and the
    * corpus-sized position relation needs NO dedup shuffle — only the
    * broadcast eval bit set must be distinct (join fan-out otherwise). */
  def bloomProbe(trainPositions: DataFrame, evalBits: DataFrame): DataFrame = {
    import trainPositions.sparkSession.implicits._
    trainPositions
      .join(broadcast(evalBits.withColumn("hit", lit(1))), Seq("p"), "left")
      .groupBy($"doc_id", $"xid")
      .agg(count(lit(1)).as("npos"), count($"hit").as("hits"))
      .filter($"hits" === $"npos")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_flagged"))
      .select($"doc_id", $"n_flagged".cast("long").as("n_flagged"))
      .orderBy($"doc_id")
  }

  private def q66(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = contaminationGrams(s, dir)
    val evalBits = bloomPositions(grams.filter($"doc_id" % EvalMod === 0L))
      .select($"p").distinct()
    bloomProbe(bloomPositions(grams.filter($"doc_id" % EvalMod =!= 0L)), evalBits)
  }

  private val q66Sql = {
    import graft.functions.MinHashParams
    val terms = (1 to ContaminationGram).map(i => s"ws[i+${i - 1}]").mkString(" || ' ' || ")
    val h = graft.operators.Dedup.hash63Sql("g")
    s"""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') ws FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct([$terms
       |        for i in range(1, len(ws) - ${ContaminationGram - 2})])) AS g
       |      FROM w WHERE len(ws) >= $ContaminationGram),
       |coef AS (${MinHashParams.coefSql(BloomHashes)}),
       |pos AS (SELECT doc_id, xid, ((a * (xid % ${MinHashParams.P}) + b) % ${MinHashParams.P}) % $BloomBits AS p
       |        FROM (SELECT doc_id, $h AS xid FROM g) CROSS JOIN coef),
       |bits AS (SELECT DISTINCT p FROM pos WHERE doc_id % $EvalMod = 0),
       |hit AS (SELECT t.doc_id, t.xid, COUNT(*) AS npos, COUNT(bits.p) AS hits
       |        FROM (SELECT * FROM pos WHERE doc_id % $EvalMod <> 0) t LEFT JOIN bits ON t.p = bits.p
       |        GROUP BY t.doc_id, t.xid)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
       |FROM hit WHERE hits = npos
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val KmvK = 256

  /** q65 — approximate distinct-token cardinality per source via the
    * [[graft.functions.KmvSketch]] KMV sketch (k = 256, ~6% standard
    * error). The per-source vocabulary size is the corpus-diversity metric
    * behind dedup/quality dashboards, and exact count-distinct at 100 TB
    * means shuffling every distinct token; the sketch ships 256 longs per
    * source per partition instead. Hashing uses the Oracle family so the
    * DuckDB oracle reproduces the *estimate itself* exactly — sort the
    * distinct hashes, take the 256th smallest, apply the same
    * (k−1)/(h/2⁶³) floor. Production corpora swap in HashFamily.Fast (the
    * estimator only needs uniform hashes; PipelineSpec gates Fast-mode
    * accuracy against the exact cardinality). */
  def approxDistinctTokens(s: SparkSession, dir: String,
      family: HashFamily = HashFamily.Oracle): DataFrame = {
    import s.implicits._
    val hashed = docTokens(s, dir)
      .select($"source", explode($"ws").as("tok"))
      .select($"source", family.hash63($"tok").as("x"))
      .as[(String, Long)]
    hashed.groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.KmvSketch(KmvK).toColumn.name("est_distinct"))
      .toDF("source", "est_distinct")
      .orderBy($"source")
  }

  private def q65(s: SparkSession, dir: String): DataFrame =
    approxDistinctTokens(s, dir, HashFamily.Oracle)

  private val q65Sql = {
    val h = graft.operators.Dedup.hash63Sql("tok")
    s"""WITH toks AS (SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents),
       |h AS (SELECT DISTINCT source, $h AS x FROM toks),
       |r AS (SELECT source, x, row_number() OVER (PARTITION BY source ORDER BY x) AS rn,
       |             COUNT(*) OVER (PARTITION BY source) AS nd FROM h)
       |SELECT source,
       |  CAST(CASE WHEN nd < $KmvK THEN nd
       |       ELSE floor(${KmvK - 1}.0 / (CAST(x AS DOUBLE) / 9223372036854775808.0)) END AS BIGINT) AS est_distinct
       |FROM r WHERE rn = CASE WHEN nd < $KmvK THEN nd ELSE $KmvK END
       |ORDER BY source""".stripMargin
  }

  val PackBinTokens = 512L

  /** q70 — sequence packing: concatenate documents in deterministic order
    * and chop into fixed token-budget bins (the GPT-style pack-then-split
    * batch construction; a document may straddle a boundary, exactly as
    * training packers do). Cumulative token offsets come from
    * [[PrefixSum.cumEndBySource]] — a two-pass distributed prefix sum
    * whose parallelism is the partition count, NOT a per-source window
    * (which would funnel every row of a corpus source through one
    * WindowExec task; `source` has a handful of values, so at 100 TB
    * that is a billions-of-rows single-task sort). Reported per
    * (source, bin): document count, token count, and the doc-id range —
    * the manifest a downstream loader consumes. */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    packToks(docTokens(s, dir)
      .select($"source", $"doc_id", size($"ws").cast("long").as("toks")))
  }

  private val q70Sql =
    s"""WITH d AS (SELECT source, doc_id,
       |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS toks
       |  FROM documents),
       |c AS (SELECT source, doc_id, toks,
       |    SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
       |  FROM d)
       |SELECT source, CAST((cum_end - toks) // $PackBinTokens AS BIGINT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin

  val TfIdfTopK = 3

  /** q68 — TF-IDF keyword extraction: the top-[[TfIdfTopK]] terms per
    * document under inverse-document-frequency weighting, the canonical
    * text-relevance statistic (keyword tagging, topic drift monitoring,
    * quality heuristics). The idf factor is the RATIONAL form N/df rather
    * than log(N/df): a logarithm is a transcendental whose last bits vary
    * across libm implementations, while tf·N (exact integer) divided by df
    * (one IEEE divide) is bit-identical on every engine — and the log is
    * monotone in N/df, so per-document rankings are unchanged.
    *
    * Plan shape: two keyed aggregations (tf per (doc, term), df per term),
    * one shuffle join on the term, and a per-document top-k window that
    * sorts each document's own terms only — no corpus-wide sort. The
    * document count joins in as a broadcast single-row aggregate. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = docTermFreqs(s, dir).select($"doc_id", $"term", $"tf")
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", ($"tf" * $"n_docs").cast("double") / $"df".cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"term")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= TfIdfTopK)
      .select($"doc_id", $"rank", $"term", $"score")
      .orderBy($"doc_id", $"rank")
  }

  private val q68Sql =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (SELECT tf.doc_id, tf.term,
       |    CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |ranked AS (SELECT doc_id, term, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, score FROM ranked WHERE rank <= $TfIdfTopK
       |ORDER BY doc_id, rank""".stripMargin

  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 top-terms core over a tokenized corpus (doc_id, ws) — the
    * full Robertson/Spärck Jones weighting the q68 TF-IDF skeleton was
    * built toward: log-damped rarity `ln(1 + (N − df + ½)/(df + ½))`,
    * tf saturation `tf·(k₁+1)/(tf + k₁·…)` (a 50th occurrence is worth
    * almost nothing, where raw tf·idf grows linearly), and document-length
    * normalization by `dl/avgdl` (b = 0.75) so verbose documents don't
    * dominate relevance. Public for the rank-agreement spec, which runs it
    * over planted-keyword corpora.
    *
    * Plan shape is q68's: two keyed aggregations, one term join, a
    * broadcast single-row stats aggregate, and a per-document top-k
    * window — no corpus-wide sort. Ranking happens on the RAW score
    * (ties across engines are only possible at identical (tf, df, dl)
    * inputs, where both engines compute the identical double); the
    * displayed score is rounded to 6 dp so the one transcendental (ln)
    * can never hash-diverge the artifact on a last-ulp libm difference. */
  def bm25TopTerms(toks: DataFrame, topK: Int = TfIdfTopK): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    val tf = toks.select($"doc_id", size($"ws").as("dl"), explode($"ws").as("term"))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      (sum(size($"ws")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    // arithmetic mirrors the oracle SQL TERM FOR TERM: every step is one
    // IEEE op on identical inputs (the constants are source literals on
    // both sides, never folded differently)
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("score_raw",
        // k₁+1 and 1−b are derived IN SOURCE from the constants (both sums
        // are exact doubles), so retuning Bm25K1/Bm25B can never leave a
        // stale hand-folded 2.2/0.25 behind
        $"idf" * ($"tf" * lit(Bm25K1 + 1.0) /
          ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * $"dl" / $"avgdl"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score_raw".desc, $"term")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= topK)
      .select($"doc_id", $"rank", $"term", round($"score_raw", 6).as("score"))
      .orderBy($"doc_id", $"rank")
  }

  /** q75 — BM25 keyword extraction (k₁ = 1.2, b = 0.75), consuming the
    * materialized token store like every other token pass. */
  private def q75(s: SparkSession, dir: String): DataFrame =
    bm25TopTerms(docTokens(s, dir))

  private val q75Sql =
    s"""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') ws FROM documents),
       |d AS (SELECT doc_id, len(ws) AS dl FROM w),
       |toks AS (SELECT doc_id, unnest(ws) AS term FROM w),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |stats AS (SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM d),
       |scored AS (SELECT tf.doc_id, tf.term,
       |    ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)) *
       |    (tf.tf * ${Bm25K1 + 1.0} / (tf.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * d.dl / s.avgdl))) AS score_raw
       |  FROM tf JOIN df USING (term) JOIN d ON d.doc_id = tf.doc_id CROSS JOIN stats s),
       |ranked AS (SELECT doc_id, term, score_raw,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_raw DESC, term) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, round(score_raw, 6) AS score
       |FROM ranked WHERE rank <= $TfIdfTopK ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q111 — subword tokenizer (round-14 verdict directive 4): a training
  // pipeline tokenizes with a LEARNED subword vocab, not whitespace
  // words. The vocab here is corpus-derived and fully deterministic —
  // the 36 single chars [0-9a-z] (always present, so every word
  // tokenizes without an UNK) plus the SubGramK most frequent intra-word
  // substrings of length 2..SubMaxLen, ranked by occurrence count with
  // ties to the lexicographically smaller gram — which is what makes the
  // whole operator exactly SQL-oracle-able, unlike a merge-order-
  // dependent learned BPE. Tokenization is GREEDY LONGEST-MATCH against
  // that vocab, the classic WordPiece-style inference rule.
  // ---------------------------------------------------------------------

  /** Max learned-gram length (greedy match tries 4, 3, 2, then the
    * guaranteed single char). */
  val SubMaxLen = 4
  /** Learned grams kept beside the 36 base chars. */
  val SubGramK = 64
  private val SubBaseChars: Seq[String] =
    "0123456789abcdefghijklmnopqrstuvwxyz".map(_.toString)

  /** (w, cnt) — DISTINCT corpus words (maximal [a-z0-9]+ runs of the
    * lowercased text) with occurrence counts, served from the
    * [[graft.store.Materialized]] store: vocab learning and tokenization
    * both consume it, and identical words tokenize identically, so every
    * downstream stage runs over the distinct-word relation (vocab-scale,
    * orders below corpus token volume — the scale trick that makes the
    * tokenizer one small shuffle instead of a corpus-volume explode). */
  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    graft.store.Materialized.relation(s, s"wordcounts:$dir") {
      t(s, dir, "documents")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z0-9]+"), lit(0))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    }

  // one learned vocab per (session, sf dir): q111 and q115 both serve
  // from it — the gram-candidate aggregation over the distinct-word
  // relation is the tokenizer's prepare stage, paid once per corpus
  // snapshot like the trained centroids (whose cache shape this copies)
  private val vocabCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Seq[(String, Long)]]

  /** The learned vocab as (token, id): base chars get ids 1..36 in byte
    * order; learned grams ids 37.. in (count DESC, gram ASC) rank order.
    * Driver-side — 36 + [[SubGramK]] rows, the broadcast-as-literals
    * scale shape of the trained centroids. */
  def subwordVocab(s: SparkSession, dir: String): Seq[(String, Long)] = {
    val vocab = vocabCache.getOrElseUpdate((s, dir), learnVocab(s, dir))
    graft.store.CorpusCaches.retain(s, dir, "text:vocab")(
      () => { vocabCache.remove((s, dir)); () })
    vocab
  }

  private def learnVocab(s: SparkSession, dir: String): Seq[(String, Long)] = {
    import s.implicits._
    val grams = wordCounts(s, dir)
      .select($"w", $"cnt",
        // all substrings of length 2..SubMaxLen — guarded per length:
        // sequence(a, b) with b < a DESCENDS in Spark, so a short word
        // must yield an empty position list, not positions [1, 0]
        explode(flatten(transform(sequence(lit(2), lit(SubMaxLen)), l =>
          when(length($"w") >= l,
            transform(sequence(lit(1), length($"w") - l + 1),
              p => $"w".substr(p, l)))
            .otherwise(array().cast("array<string>"))))).as("g"))
      .groupBy($"g").agg(sum($"cnt").as("n"))
      .orderBy($"n".desc, $"g")
      .limit(SubGramK)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val base = SubBaseChars.sorted
    base.zipWithIndex.map { case (c, i) => (c, (i + 1).toLong) } ++
      grams.zipWithIndex.map { case ((g, _), i) => (g, (base.size + i + 1).toLong) }
  }

  /** Token-id array of one word column under greedy longest-match — a
    * single codegen'd `aggregate` over character positions with the
    * vocab embedded as ONE literal map (broadcast-free, no join, no
    * shuffle): at each unconsumed position try the longest vocab entry
    * that fits the remaining suffix, emit its id, jump past it. The
    * single-char fallback always matches (base chars cover the word
    * character class), so the fold is total. */
  private[graft] def subwordIds(w: Column, vocab: Seq[(String, Long)]): Column = {
    // ONE literal map node (tokens are unique, so Map loses nothing); the
    // flat map(lit, lit, ...) form is 2·|vocab| expression nodes inside a
    // lambda the analyzer re-walks every run
    val m = typedLit(vocab.toMap)
    aggregate(
      sequence(lit(0), length(w) - 1),
      struct(lit(0).as("nxt"), array().cast("array<bigint>").as("ids")),
      (acc, i) => {
        def hit(l: Int) = element_at(m, w.substr(i + 1, lit(l)))
        def ok(l: Int) = (length(w) - i >= l) && hit(l).isNotNull
        def adv(l: Int) = struct((i + l).as("nxt"),
          concat(acc.getField("ids"), array(hit(l))).as("ids"))
        val step = (SubMaxLen to 2 by -1)
          .foldLeft(when(lit(false), acc)) { (c, l) => c.when(ok(l), adv(l)) }
          .otherwise(adv(1))
        when(i < acc.getField("nxt"), acc).otherwise(step)
      },
      acc => acc.getField("ids"))
  }

  /** q111 — subword token-id counts over the corpus: learn the vocab,
    * tokenize every DISTINCT word once (greedy longest-match as a pure
    * column fold), weight by word occurrence counts, and emit the FULL
    * vocab inventory (id, tok, n) — unused entries as n = 0, the q109
    * every-cluster discipline. Scale shape: one corpus scan into the
    * materialized distinct-word relation, the vocab action over
    * 36 + [[SubGramK]] rows, then a vocab-sized aggregation; the only
    * corpus-volume work is the word split. */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = subwordVocab(s, dir)
    val counts = wordCounts(s, dir)
      .select(explode(subwordIds($"w", vocab)).as("id"), $"cnt")
      .groupBy($"id").agg(sum($"cnt").as("n"))
    vocab.toDF("tok", "id")
      .join(counts, Seq("id"), "left")
      .select($"id", $"tok", coalesce($"n", lit(0L)).as("n"))
      .orderBy($"id")
  }

  /** Oracle: the identical deterministic pipeline — distinct words, gram
    * counting, the same (count DESC, gram ASC) top-K and id assignment,
    * then greedy longest-match as a per-(word, position) best-match table
    * (longest vocab entry matching at each position) walked by a
    * recursive CTE that jumps by the matched length. Both engines
    * implement the same total greedy function, so the token streams are
    * identical word by word. */
  /** The oracle's shared tokenizer machinery — vocab learning plus the
    * greedy longest-match walk over the distinct-word relation — factored
    * out so q111 (token counts) and q115 (subword packing) tokenize with
    * the SAME learned vocab and the same walk. */
  private val subwordCtes =
    s"""wds AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
       |wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM wds GROUP BY w),
       |pos AS (SELECT w, cnt, unnest(generate_series(1, length(w))) AS p FROM wc),
       |gr AS (SELECT substr(w, CAST(p AS INTEGER), CAST(l AS INTEGER)) AS g, CAST(SUM(cnt) AS BIGINT) AS n
       |  FROM pos, range(2, ${SubMaxLen + 1}) t(l)
       |  WHERE p + l - 1 <= length(w) GROUP BY 1),
       |topg AS (SELECT g, n FROM gr ORDER BY n DESC, g LIMIT $SubGramK),
       |basec AS (SELECT unnest(regexp_extract_all('0123456789abcdefghijklmnopqrstuvwxyz', '.')) AS g),
       |vocab AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY pri, n DESC, tok) AS BIGINT) AS id,
       |    length(tok) AS l
       |  FROM (SELECT g AS tok, 0 AS pri, CAST(0 AS BIGINT) AS n FROM basec
       |        UNION ALL SELECT g, 1, n FROM topg)),
       |best AS (SELECT w, p, id, len FROM (
       |    SELECT pos.w, pos.p, v.id, v.l AS len,
       |      ROW_NUMBER() OVER (PARTITION BY pos.w, pos.p ORDER BY v.l DESC) AS rn
       |    FROM pos JOIN vocab v
       |      ON pos.p + v.l - 1 <= length(pos.w)
       |     AND substr(pos.w, CAST(pos.p AS INTEGER), CAST(v.l AS INTEGER)) = v.tok
       |  ) WHERE rn = 1),
       |walk AS (
       |  SELECT w, CAST(1 AS BIGINT) AS p FROM wc
       |  UNION ALL
       |  SELECT k.w, k.p + b.len FROM walk k JOIN best b ON b.w = k.w AND b.p = k.p)""".stripMargin

  private val q111Sql =
    s"""WITH RECURSIVE
       |$subwordCtes,
       |tk AS (SELECT b.id, wc.cnt FROM walk k
       |  JOIN best b ON b.w = k.w AND b.p = k.p
       |  JOIN wc ON wc.w = k.w),
       |cnts AS (SELECT id, CAST(SUM(cnt) AS BIGINT) AS n FROM tk GROUP BY id)
       |SELECT v.id, v.tok, COALESCE(c.n, CAST(0 AS BIGINT)) AS n
       |FROM vocab v LEFT JOIN cnts c USING (id) ORDER BY v.id""".stripMargin

  /** Subword token count of one word column — the q111 greedy fold,
    * counting tokens instead of collecting ids. */
  private def subwordLen(w: Column, vocab: Seq[(String, Long)]): Column =
    size(subwordIds(w, vocab)).cast("long")

  /** Per-document subword token counts, FOLD variant: the words split,
    * then the vocab-literal greedy match per word occurrence — zero
    * joins, zero shuffle, all inside codegen on the scan side. The
    * measured loser against the join variant below (`Q115AB_r16.json`);
    * TokenizerSpec keeps it as the join variant's reference. */
  private[graft] def docSubwordToksFold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = subwordVocab(s, dir)
    t(s, dir, "documents")
      .select($"source", $"doc_id",
        aggregate(
          transform(regexp_extract_all(lower($"text"), lit("[a-z0-9]+"), lit(0)),
            wd => subwordLen(wd, vocab)),
          lit(0L), (a, x) => a + x).as("toks"))
  }

  /** Per-document subword token counts, JOIN variant (q115's serving
    * path — measured winner, see q115's doc): tokenize the DISTINCT-word
    * relation once (vocab-fold per distinct word), then join lengths
    * back onto the corpus's word occurrences and sum per document. The
    * word-length side is distinct-word-sized (usually broadcastable;
    * planner/AQE decides), and the per-doc aggregation's map-side
    * combine collapses occurrence rows to DOC-sized exchange volume —
    * so the "corpus-token-row shuffle" the fold variant's old comment
    * feared never materializes. Both variants produce identical
    * (source, doc_id, toks); TokenizerSpec asserts it.
    *
    * Scale story past the broadcast threshold: the plan stays a LEFT
    * join keyed on the word, so if a 100 TB corpus's distinct-word
    * relation ever outgrows the broadcast gate, Spark falls back to a
    * shuffle join on a Zipf-distributed key — AQE's skew-join split
    * (`spark.sql.adaptive.skewJoin`, on by default with AQE) handles the
    * head words by splitting their partitions against the (replicable)
    * word-length build side; and [[docSubwordToksFold]] remains the
    * scan-local shape with no join at all. PackingPlanSpec pins the
    * broadcast at shipped SFs. */
  private[graft] def docSubwordToksJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = subwordVocab(s, dir)
    val wl = wordCounts(s, dir).select($"w", subwordLen($"w", vocab).as("wl"))
    // explode_OUTER keeps a null-word row for wordless documents, so the
    // per-doc aggregation covers every manifest row by itself — the
    // explode/inner-join first cut needed a second (sort-merge) join of
    // the doc list back onto the counts just to restore the zero-token
    // docs, one whole exchange for rows this shape keeps for free
    t(s, dir, "documents")
      .select($"source", $"doc_id",
        explode_outer(regexp_extract_all(lower($"text"), lit("[a-z0-9]+"), lit(0))).as("w"))
      .join(wl, Seq("w"), "left")
      .groupBy($"source", $"doc_id")
      .agg(sum(coalesce($"wl", lit(0L))).as("toks"))
  }

  /** q70's packing tail over any (source, doc_id, toks) relation —
    * running offsets via the distributed prefix sum (see
    * [[PrefixSum.cumEndBySource]] for why not a per-source window). */
  private[graft] def packToks(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    PrefixSum.cumEndBySource(df)
      // bin of a doc = bin containing its first token (0-based offset);
      // `div` is integer division (plain `/` on longs yields double)
      .withColumn("bin", expr(s"(cum_end - toks) div $PackBinTokens"))
      .groupBy($"source", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .select($"source", $"bin", $"n_docs".cast("long").as("n_docs"),
        $"n_tokens".cast("long").as("n_tokens"), $"first_doc", $"last_doc")
      .orderBy($"source", $"bin")
  }

  /** q115 — sequence packing over SUBWORD token counts (the q70 manifest
    * re-based on the q111 tokenizer, closing the loop the round-14
    * verdict named): bin budgets now count the tokens a trainer actually
    * consumes, not whitespace words — a 512-token bin of q70 words can
    * overflow a real context window, this one cannot. Token counts come
    * from [[docSubwordToksJoin]] (tokenize distinct words, join lengths
    * back, doc-sized aggregation exchange); packing then reuses q70's
    * distributed prefix sum ([[PrefixSum.cumEndBySource]]).
    *
    * MEASURED, not assumed (`Q115AB_r16.json` — interleaved min-of-10
    * at sf0.1): the round-15 fold variant
    * ([[docSubwordToksFold]], per-occurrence vocab-literal greedy match)
    * claimed the join was "strictly worse at every scale"; the A/B read
    * fold 2.95 s vs join 0.66 s minima — the CLAIM WAS BACKWARD. Greedy
    * matching costs per occurrence; Zipf makes distinct words ≪
    * occurrences, and the join's exchange is doc-sized after map-side
    * combine. The fold remains the fallback shape for a corpus whose
    * distinct-word relation is too large to join cheaply (it is
    * scan-local by construction). */
  private def q115(s: SparkSession, dir: String): DataFrame =
    packToks(docSubwordToksJoin(s, dir))

  /** Oracle: per-word subword length = the walk's step count, joined back
    * to per-document word occurrences (docs with no words pack as zero
    * tokens), then q70's packing SQL verbatim. */
  private val q115Sql =
    s"""WITH RECURSIVE
       |$subwordCtes,
       |wl AS (SELECT k.w, CAST(COUNT(*) AS BIGINT) AS wl FROM walk k
       |  JOIN best b ON b.w = k.w AND b.p = k.p GROUP BY k.w),
       |dw AS (SELECT source, doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |dt AS (SELECT d.source, d.doc_id, COALESCE(t.toks, CAST(0 AS BIGINT)) AS toks
       |  FROM documents d LEFT JOIN
       |    (SELECT source, doc_id, CAST(SUM(wl) AS BIGINT) AS toks
       |     FROM dw JOIN wl USING (w) GROUP BY source, doc_id) t
       |  ON d.source = t.source AND d.doc_id = t.doc_id),
       |c AS (SELECT source, doc_id, toks,
       |    SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
       |  FROM dt)
       |SELECT source, CAST((cum_end - toks) // $PackBinTokens AS BIGINT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin

  // ---------------------------------------------------------------------
  // q133 — LM-perplexity quality scoring (the CCNet filter, Wenzek et al.
  // 2020): score each document by its per-token cross-entropy under a
  // corpus-trained bigram language model with Laplace smoothing —
  // P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V). The classic curation step this
  // family still lacked: q32's quality heuristics are surface ratios;
  // this is the statistical fluency score a CCNet-style pipeline
  // thresholds on.
  //
  // EXACT ORACLE despite transcendentals and a per-doc float SUM: each
  // bigram's ln is ONE IEEE op on identical inputs (the q75 discipline),
  // and the per-doc sum — which would be float-order-dependent —
  // instead sums per-row DECIMAL(38,12) casts, which is exact and
  // order-independent on both engines (the q01 decimal-sum trick moved
  // under a transcendental).
  //
  // SCALE SHAPE: per-doc DISTINCT-bigram counts first (the q115 Zipf
  // lesson — score once per distinct bigram, multiply by its count),
  // then two hash aggregates (corpus bigram counts; context counts),
  // a scalar vocab crossJoin(broadcast), a join on the bigram string
  // (high-cardinality) and one on the context word (Zipf — AQE skew-join
  // is the past-threshold story, as q115), and a doc_id-keyed final
  // aggregate. No windows, no driver collects, no corpus×corpus.
  // ---------------------------------------------------------------------

  /** (doc_id, n_bigrams, logppl) for any (doc_id, ws) tokenized frame —
    * logppl = per-bigram cross-entropy −(Σ ln P)/n, rounded to 6. Docs
    * with fewer than two tokens have no bigram and are excluded. */
  def bigramLmScores(toks: DataFrame): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    // materialized once (the q84 plan-cut discipline): dbc feeds the
    // corpus-bigram aggregate, the context aggregate AND the score join —
    // uncut, Catalyst re-derives the tokenize+explode+aggregate chain
    // from a separate scan for each consumer (three corpus passes)
    // HASH-KEYED exchanges (round 18, VERDICT r17 item 8): every shuffle
    // and join below keys on xxhash64 of the bigram / context word
    // instead of the strings — the lambda emits (hbg, hw1) longs
    // directly, so the (doc, bigram) aggregate, both corpus aggregates
    // and the score joins ship two 8-byte keys where they shipped a
    // ~15–30-byte bigram string plus its first word (guide §2.3: shuffle
    // fewer bytes; the checkpointed dbc shrinks the same way). Counts
    // and groupings are unchanged as long as xxhash64 is injective on
    // the corpus' bigrams and tokens — the verify-stage collision
    // argument (Dedup.verifyPairs: odds ~N²/2⁶⁴ ≈ 10⁻⁷ at sf0.1), here
    // additionally PINNED by Q133HashAuditSpec, which asserts zero
    // bigram/token hash collisions at every shipped SF including the
    // bench's sf0.1, and by the unchanged string-keyed oracle at the
    // gate SFs. hw1 is a function of the bigram, so grouping by
    // (doc_id, hbg, hw1) has exactly (doc_id, bigram) granularity.
    val dbc = toks.filter(size($"ws") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(ws)-2), i -> named_struct(
          |'hbg', xxhash64(concat_ws(' ', ws[i], ws[i+1])),
          |'hw1', xxhash64(ws[i])))""".stripMargin)).as("e"))
      .groupBy($"doc_id", $"e.hbg".as("hbg"), $"e.hw1".as("hw1"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cb = dbc.groupBy($"hbg").agg(sum($"c").as("cb"))
    val cu = dbc.groupBy($"hw1").agg(sum($"c").as("cu"))
    // |vocab| without the corpus-token-volume explode + 2-exchange
    // distinct the previous shape paid: every token occurrence is either
    // a non-final occurrence in a ≥2-token doc — hence a w1 value, hence
    // in cu's key set — or the FINAL token of its doc; so the distinct
    // token set is exactly (cu keys) ∪ (per-doc last tokens). The union's
    // left side is vocabulary-sized and the right side is one row per
    // document (element_at(ws, -1); ws is never empty — split of an empty
    // text yields [""]), so the distinct aggregate runs over doc-volume
    // instead of token-volume rows (guide §2.3: aggregate/shrink before
    // the exchange). Distinct hashes = distinct tokens under the same
    // injectivity pin.
    val v = cu.select($"hw1".as("tok"))
      .union(toks.select(xxhash64(element_at($"ws", -1)).as("tok")))
      .agg(countDistinct($"tok").as("v"))
    dbc.join(cb, "hbg").join(cu, "hw1").crossJoin(broadcast(v))
      .withColumn("lnp", log(($"cb".cast("double") + lit(1.0)) /
        ($"cu".cast("double") + $"v".cast("double"))))
      .groupBy($"doc_id")
      .agg(sum($"c").cast("long").as("n_bigrams"),
        sum(($"c".cast("double") * $"lnp").cast("decimal(38,12)")).as("s"))
      .select($"doc_id", $"n_bigrams",
        round(-($"s".cast("double")) / $"n_bigrams".cast("double"), 6).as("logppl"))
      .orderBy($"doc_id")
  }

  private def q133(s: SparkSession, dir: String): DataFrame =
    bigramLmScores(docTokens(s, dir))

  private val q133Sql =
    """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') ws FROM documents),
      |bg AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS bg
      |       FROM w WHERE len(ws) >= 2),
      |dbc AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1, COUNT(*) AS c
      |        FROM bg GROUP BY doc_id, bg),
      |cb AS (SELECT bg, SUM(c) AS cb FROM dbc GROUP BY bg),
      |cu AS (SELECT w1, SUM(c) AS cu FROM dbc GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(ws) AS tok FROM w)),
      |sc AS (SELECT d.doc_id, d.c,
      |    ln((CAST(cb.cb AS DOUBLE) + 1.0) / (CAST(cu.cu AS DOUBLE) + CAST(v.v AS DOUBLE))) AS lnp
      |  FROM dbc d JOIN cb USING (bg) JOIN cu USING (w1) CROSS JOIN v),
      |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |    SUM(CAST(CAST(c AS DOUBLE) * lnp AS DECIMAL(38,12))) AS s
      |  FROM sc GROUP BY doc_id)
      |SELECT doc_id, n_bigrams,
      |  round(-(CAST(s AS DOUBLE)) / CAST(n_bigrams AS BIGINT), 6) AS logppl
      |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q134 — DSIR importance weights (Xie et al. 2023, "Data Selection for
  // Language Models via Importance Resampling"): per-document log
  // importance weight Σ_f c_d(f)·[ln p_target(f) − ln p_raw(f)] over
  // HASHED n-gram features (unigrams + bigrams → 63-bit hash mod
  // DsirBuckets), with Laplace-smoothed bucket distributions. Target =
  // the labeled-English slice (`lang = 'en'`), raw = the whole corpus —
  // the data-SELECTION operator beside q133's data-FILTERING one.
  //
  // Same exactness machinery as q133 (one ln per side per bucket row,
  // decimal-cast per-doc sums); the feature hash is the pluggable
  // [[HashFamily]] — Oracle (md5, DuckDB-replicable token for token) on
  // the gated row, Fast (xxhash64) for production corpora.
  //
  // SCALE SHAPE: features aggregate per (doc_id, bucket) first — at most
  // DsirBuckets distinct join keys downstream per doc — the bucket
  // tables are ≤ DsirBuckets rows (broadcast-sized BY CONSTRUCTION at
  // any corpus scale: the hash-bucketing is exactly what bounds them,
  // per the DSIR paper), and the scalar totals ride one
  // crossJoin(broadcast). The only corpus-sized exchanges are the
  // (doc_id, f) aggregate and the final doc_id aggregate.
  // ---------------------------------------------------------------------

  /** Hashed-feature bucket count (the DSIR paper's 10⁴ scaled to the
    * fixture; production sizes this to taste — the shape is B-invariant). */
  val DsirBuckets = 1024
  /** Target-slice language label. */
  val DsirTargetLang = "en"

  /** (doc_id, n_feats, logw) — DSIR log importance weight per document
    * of a (doc_id, lang, ws) frame, rounded to 6. */
  def dsirWeights(docs: DataFrame, family: HashFamily): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val grams = docs.select($"doc_id", ($"lang" === DsirTargetLang).as("is_t"),
        explode($"ws").as("g"))
      .unionByName(docs.filter(size($"ws") >= 2)
        .select($"doc_id", ($"lang" === DsirTargetLang).as("is_t"), explode(expr(
          "transform(sequence(0, size(ws)-2), i -> concat_ws(' ', ws[i], ws[i+1]))")).as("g")))
    // materialized once: dfc feeds the target aggregate, the raw
    // aggregate and the score join (the q133/q84 plan-cut discipline)
    val dfc = grams
      .select($"doc_id", $"is_t", (family.hash63($"g") % DsirBuckets).as("f"))
      .groupBy($"doc_id", $"is_t", $"f").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ct = dfc.filter($"is_t").groupBy($"f").agg(sum($"c").as("ct"))
    val cr = dfc.groupBy($"f").agg(sum($"c").as("cr"))
    val tot = ct.agg(sum($"ct").as("nt")).crossJoin(cr.agg(sum($"cr").as("nr")))
    dfc.join(broadcast(ct), Seq("f"), "left").join(broadcast(cr), Seq("f"))
      .crossJoin(broadcast(tot))
      .withColumn("lr",
        log((coalesce($"ct", lit(0L)).cast("double") + lit(1.0)) /
          ($"nt".cast("double") + lit(DsirBuckets.toDouble))) -
        log(($"cr".cast("double") + lit(1.0)) /
          ($"nr".cast("double") + lit(DsirBuckets.toDouble))))
      .groupBy($"doc_id")
      .agg(sum($"c").cast("long").as("n_feats"),
        sum(($"c".cast("double") * $"lr").cast("decimal(38,12)")).as("s"))
      .select($"doc_id", $"n_feats", round($"s".cast("double"), 6).as("logw"))
      .orderBy($"doc_id")
  }

  private def q134(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = docTokens(s, dir)
      .join(t(s, dir, "documents").select($"doc_id", $"lang"), "doc_id")
    dsirWeights(docs, HashFamily.Oracle)
  }

  private val q134Sql = {
    val h = Dedup.hash63Sql("g")
    s"""WITH w AS (SELECT doc_id, lang = '$DsirTargetLang' AS is_t,
       |    string_split_regex(lower(trim(text)), '\\s+') ws FROM documents),
       |g AS (SELECT doc_id, is_t, unnest(ws) AS g FROM w
       |      UNION ALL
       |      SELECT doc_id, is_t, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g
       |      FROM w WHERE len(ws) >= 2),
       |dfc AS (SELECT doc_id, is_t, $h % $DsirBuckets AS f, COUNT(*) AS c
       |        FROM g GROUP BY doc_id, is_t, $h % $DsirBuckets),
       |ct AS (SELECT f, SUM(c) AS ct FROM dfc WHERE is_t GROUP BY f),
       |cr AS (SELECT f, SUM(c) AS cr FROM dfc GROUP BY f),
       |tot AS (SELECT (SELECT SUM(ct) FROM ct) AS nt, (SELECT SUM(cr) FROM cr) AS nr),
       |sc AS (SELECT d.doc_id, d.c,
       |    ln((CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1.0) / (CAST(t.nt AS DOUBLE) + ${DsirBuckets.toDouble})) -
       |    ln((CAST(cr.cr AS DOUBLE) + 1.0) / (CAST(t.nr AS DOUBLE) + ${DsirBuckets.toDouble})) AS lr
       |  FROM dfc d LEFT JOIN ct USING (f) JOIN cr USING (f) CROSS JOIN tot t),
       |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
       |    SUM(CAST(CAST(c AS DOUBLE) * lr AS DECIMAL(38,12))) AS s
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, n_feats, round(CAST(s AS DOUBLE), 6) AS logw
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  val all: Seq[GQuery] = Seq(
    GQuery("q30_token_counts", q30, Some(q30Sql)),
    GQuery("q31_lang_id", q31, Some(q31Sql)),
    GQuery("q32_quality_scores", q32, Some(q32Sql)),
    GQuery("q33_fingerprints", q33, Some(q33Sql)),
    GQuery("q34_word_frequency", q34, Some(q34Sql), bench = true),
    GQuery("q53_heavy_tokens", q53, Some(q53Sql)),
    GQuery("q59_doc_repetition", q59, Some(q59Sql)),
    GQuery("q60_decontamination", q60, Some(q60Sql)),
    GQuery("q64_pii_redaction", q64, Some(q64Sql)),
    GQuery("q65_approx_distinct", q65, Some(q65Sql)),
    GQuery("q66_bloom_decontaminate", q66, Some(q66Sql)),
    GQuery("q68_tfidf_topterms", q68, Some(q68Sql)),
    GQuery("q70_sequence_packing", q70, Some(q70Sql)),
    GQuery("q75_bm25_topterms", q75, Some(q75Sql)),
    // benched from birth: warm = the distinct-word tokenize + vocab-sized
    // aggregation; cold additionally pays the materialized word-count
    // build and the vocab action (the prepare stage)
    GQuery("q111_subword_tokens", q111, Some(q111Sql), bench = true),
    GQuery("q115_subword_packing", q115, Some(q115Sql), bench = true),
    GQuery("q133_bigram_lm_perplexity", q133, Some(q133Sql), bench = true),
    GQuery("q134_dsir_weights", q134, Some(q134Sql)),
  )
}
