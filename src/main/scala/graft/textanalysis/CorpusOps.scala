package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.functions.Hashing.duckH48
import TextAnalysis.{docs, toks, duckToks}

/** Corpus-curation operators beyond the per-document scores in
  * [[TextAnalysis]]: within-document repetition signals (the Gopher-style
  * quality gates), sliding-window chunking for training-example
  * construction, PII detection/redaction, out-of-vocabulary rates
  * against a corpus-derived vocabulary, and the deterministic
  * shuffle+shard manifest that turns a curated corpus into training
  * shards.
  *
  * Scale notes (100 TB):
  *  - repetition, chunking, and PII are pure narrow passes — no shuffle,
  *    full column pruning, linear in corpus size;
  *  - the in-row top-bigram count is O(distinct·total) per document —
  *    bounded by document length, never by corpus size;
  *  - OOV is a two-pass plan: a tiny vocabulary aggregate (one shuffle on
  *    words) crossed back over the corpus as a single broadcast row, so
  *    the corpus-side pass stays narrow (the counters.txt pattern,
  *    reference `src/wordCountWrapper.py:49-50`, generalized).
  *
  * Every fraction is one exact-integer division mirrored operand-for-
  * operand in the DuckDB twin, so values hash-match bit-exactly.
  */
object CorpusOps {

  // ------------------------------------------------------------ repetition

  /** Flag thresholds, calibrated so the synthetic corpus exercises both
    * branches (132/500 docs flag at sf0.01): duplicate-bigram fraction,
    * duplicate-trigram fraction, top-bigram share.
    */
  val Dup2Threshold = 0.05
  val Dup3Threshold = 0.02
  val Top2Threshold = 0.08

  /** Within-document repetition signals (the Gopher repetition filters):
    *   dup2 = fraction of word-bigram slots whose bigram already occurred
    *   dup3 = same for trigrams
    *   top2 = share of the single most frequent bigram
    * n-grams are hashed to 48-bit longs IN-ROW before the distinct —
    * `array_distinct` over strings is Spark's O(n²) comparison path
    * (measured, see Dedup.shsExpr) and the hash keeps the DuckDB twin
    * bit-exact. Docs need ≥ 4 tokens (≥ 2 trigrams). Output:
    * (doc_id, dup2, dup3, top2, flagged).
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    def grams(n: Int): Column = transform(
      sequence(lit(1), size(t) - (n - 1)),
      i => Hashing.h48(concat_ws(" ",
        (0 until n).map(o => element_at(t, i + o)): _*)))
    val dupFrac = (g: Column) =>
      (size(g) - size(array_distinct(g))).cast("double") / size(g).cast("double")
    val topFrac = (g: Column) =>
      array_max(transform(array_distinct(g), b => size(filter(g, x => x === b))))
        .cast("double") / size(g).cast("double")
    docs(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .where(size(t) >= 4)
      .select(col("doc_id"), grams(2).as("bg"), grams(3).as("tg"))
      .select(col("doc_id"),
        dupFrac(col("bg")).as("dup2"),
        dupFrac(col("tg")).as("dup3"),
        topFrac(col("bg")).as("top2"))
      .select(col("doc_id"), col("dup2"), col("dup3"), col("top2"),
        (col("dup2") >= Dup2Threshold || col("dup3") >= Dup3Threshold ||
          col("top2") >= Top2Threshold).as("flagged"))
      .orderBy("doc_id")
  }

  val repetitionStatsSql: String = {
    val bg = duckH48("t[i] || ' ' || t[i+1]")
    val tg = duckH48("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")
    s"""WITH f AS (SELECT doc_id, $duckToks AS t FROM documents),
        g AS (SELECT doc_id,
            list_transform(range(1, len(t)), i -> $bg) AS bg,
            list_transform(range(1, len(t)-1), i -> $tg) AS tg
          FROM f WHERE len(t) >= 4),
        s AS (SELECT doc_id,
            CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
              / CAST(len(bg) AS DOUBLE) AS dup2,
            CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE)
              / CAST(len(tg) AS DOUBLE) AS dup3,
            CAST(list_max(list_transform(list_distinct(bg),
                b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE)
              / CAST(len(bg) AS DOUBLE) AS top2
          FROM g)
        SELECT doc_id, dup2, dup3, top2,
          (dup2 >= $Dup2Threshold OR dup3 >= $Dup3Threshold
            OR top2 >= $Top2Threshold) AS flagged
        FROM s ORDER BY doc_id"""
  }

  // -------------------------------------------------------------- chunking

  val ChunkSize = 64
  val ChunkStride = 48

  /** Sliding-window chunking: token windows of [[ChunkSize]] every
    * [[ChunkStride]] tokens (16-token overlap) — the training-example
    * construction pass. Chunk k covers tokens [k·stride, k·stride+size);
    * windows advance only while the PREVIOUS window hasn't reached the
    * document end (k_max = ⌈(n−size)/stride⌉, 0 for short docs), so every
    * token is covered, the last chunk may be short, and no chunk is fully
    * contained in its predecessor (a trailing contained chunk would
    * double-weight its tokens as training examples — in a dedup
    * pipeline). Output: (doc_id, chunk_idx, n_toks, chunk_hash), one row
    * per chunk. The window structs are built in-row and exploded inline
    * (a named generator input re-evaluates per exploded row — measured
    * 40×, see Dedup.shingles).
    */
  def slidingChunks(spark: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    // ⌈(n−C)/S⌉ in exact ints; (n−C+S−1) div S truncates toward zero, so
    // clamp at 0 for n ≤ C (both engines truncate — verified empirically)
    val kMax = greatest(lit(0),
      expr(s"(size(t) - $ChunkSize + ${ChunkStride - 1}) div $ChunkStride"))
    val chunkStructs = transform(
      sequence(lit(0), kMax),
      k => struct(
        k.as("chunk_idx"),
        slice(t, k * ChunkStride + 1, lit(ChunkSize)).as("c")))
    docs(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .where(size(t) > 0)
      .select(col("doc_id"), explode(chunkStructs).as("ch"))
      .select(col("doc_id"),
        col("ch.chunk_idx").cast("int").as("chunk_idx"),
        size(col("ch.c")).as("n_toks"),
        Hashing.h48(concat_ws(" ", col("ch.c"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  val slidingChunksSql: String = {
    val sl = s"list_slice(t, k*$ChunkStride+1, least(k*$ChunkStride+$ChunkSize, len(t)))"
    s"""WITH f AS (SELECT doc_id, $duckToks AS t FROM documents),
        f2 AS (SELECT doc_id, t FROM f WHERE len(t) > 0),
        c AS (SELECT doc_id, t,
            unnest(range(0, greatest(0,
              (len(t) - $ChunkSize + ${ChunkStride - 1}) // $ChunkStride) + 1)) AS k
          FROM f2)
        SELECT doc_id, CAST(k AS INT) AS chunk_idx,
          CAST(len($sl) AS INT) AS n_toks,
          ${duckH48(s"array_to_string($sl, ' ')")} AS chunk_hash
        FROM c ORDER BY doc_id, chunk_idx"""
  }

  val CdcWindow = 4
  val CdcMask = 16L

  /** Content-defined chunking (the Rabin/FastCDC idea at token
    * granularity): a chunk boundary falls AFTER token i exactly when the
    * rolling hash of the trailing [[CdcWindow]]-token window ≡ 0
    * (mod [[CdcMask]]) — so boundaries are a function of local CONTENT,
    * not position, and an insertion near a document's head shifts every
    * downstream token yet leaves all post-insertion chunk hashes
    * identical (the property fixed-stride chunking lacks, and the reason
    * CDC is the dedup-storage standard: shifted copies still dedup
    * chunk-for-chunk). Expected chunk length = mask = 16 tokens.
    *
    * Everything is built in-row from the token array — per-token hashes,
    * boundary list, chunk spans — and exploded once (no self-join on
    * position, no UDF; one narrow pass at any scale). The window hash is
    * a base-31 polynomial over PER-TOKEN h48p values (each token md5'd
    * exactly once), not an md5 of the re-concatenated window string —
    * the boundary sweep is then pure integer arithmetic, and the md5
    * budget drops from O(tokens·window) concat bytes to O(tokens) token
    * bytes + one chunk-level digest per ~mask tokens. The polynomial is
    * reduced mod P (2³¹−1, prime) BEFORE the mask test: 31 ≡ −1
    * (mod 16), so the raw polynomial of a constant window is h·30784 ≡ 0
    * (mod 16) for EVERY token — an unmixed test would cut a repeated-
    * token run into one-token chunks at every position; mod-P first
    * makes a constant window fire with the same ~1/mask probability the
    * md5-window form had. Values stay exact: h48p < 2^31 and
    * 31³·2^31 < 2^46, so both engines' 64-bit ints never overflow.
    * Output: (doc_id, chunk_idx, start_tok, n_tok, chunk_hash).
    */
  /** The CDC chunking pipeline itself over a frame carrying a token-array
    * column "t" (plus any passthrough columns named in `keep`) — the
    * single source of the boundary/digest convention. One exploded row
    * per chunk: keep ++ (chunk_idx, start_tok, n_tok, chunk_hash).
    */
  private[graft] def cdcChunked(d: DataFrame, keep: Seq[String]): DataFrame = {
    val t = col("t")
    val n = size(t)
    // rolling window hash ending at token i (1-based), over pre-hashed th
    def roll(i: Column): Column =
      (1 until CdcWindow).foldLeft(element_at(col("th"), i - (CdcWindow - 1))) {
        (acc, j) => acc * 31L + element_at(col("th"), i - (CdcWindow - 1 - j))
      }
    val bnds = filter(sequence(lit(1), n), i =>
      i >= lit(CdcWindow) && i < n && roll(i) % Hashing.P % CdcMask === 0)
    val chunkStructs = transform(sequence(lit(1), size(col("starts"))), j => struct(
      (j - 1).as("chunk_idx"),
      element_at(col("starts"), j).as("start_tok"),
      (element_at(col("ends"), j) - element_at(col("starts"), j) + 1).as("n_tok"),
      Hashing.h48(concat_ws(" ",
        slice(t, element_at(col("starts"), j),
          element_at(col("ends"), j) - element_at(col("starts"), j) + 1)))
        .as("chunk_hash")))
    // staged withColumns: each array is computed ONCE per row — inlining
    // them would re-evaluate the boundary filter for every reference
    d.where(size(t) > 0)
      .withColumn("th", transform(t, w => Hashing.h48(w) % Hashing.P))
      .withColumn("bnds", bnds)
      .withColumn("starts", concat(array(lit(1)), transform(col("bnds"), _ + 1)))
      .withColumn("ends", concat(col("bnds"), array(n)))
      .select(keep.map(col) :+ explode(chunkStructs).as("ch"): _*)
      .select(keep.map(col) ++ Seq(
        col("ch.chunk_idx").cast("long").as("chunk_idx"),
        col("ch.start_tok").cast("long").as("start_tok"),
        col("ch.n_tok").cast("long").as("n_tok"),
        col("ch.chunk_hash").as("chunk_hash")): _*)
  }

  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunked(
      docs(spark, dir).select(col("doc_id"), toks(col("text")).as("t")),
      Seq("doc_id"))
      .orderBy("doc_id", "chunk_idx")

  val cdcChunksSql: String = {
    val rollExpr = (1 until CdcWindow)
      .foldLeft(s"th[i-${CdcWindow - 1}]") { (acc, j) =>
        s"($acc)*31 + th[i-${CdcWindow - 1 - j}]"
      }
    val chunkHash = duckH48("array_to_string(t[starts[j]:ends[j]], ' ')")
    s"""WITH f AS (SELECT doc_id, $duckToks AS t FROM documents),
        f2 AS (SELECT doc_id, t, len(t) AS n,
            list_transform(t, w -> ${duckH48("w")} % ${Hashing.P}) AS th
          FROM f WHERE len(t) > 0),
        b AS (SELECT doc_id, t, n,
            list_filter(range(1, n + 1), i -> i >= $CdcWindow AND i < n
              AND ($rollExpr) % ${Hashing.P} % $CdcMask = 0) AS bnds
          FROM f2),
        s AS (SELECT doc_id, t,
            list_prepend(CAST(1 AS BIGINT),
              list_transform(bnds, x -> x + 1)) AS starts,
            list_append(bnds, n) AS ends
          FROM b),
        c AS (SELECT doc_id, t, starts, ends,
            unnest(range(1, len(starts) + 1)) AS j
          FROM s)
        SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_idx,
          CAST(starts[j] AS BIGINT) AS start_tok,
          CAST(ends[j] - starts[j] + 1 AS BIGINT) AS n_tok,
          $chunkHash AS chunk_hash
        FROM c ORDER BY doc_id, chunk_idx"""
  }

  // ------------------------------------------------------------------ PII

  /** PII patterns, kept to the Java-regex ∩ RE2 common subset so Spark and
    * the DuckDB oracle match the same spans. Order of redaction: email
    * first (may embed dots/digits), then IPv4, then international phone.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{7,15}"

  /** PII detection + redaction over the lowercased text: per-doc match
    * counts and the md5 of the redacted text (emails → `[EMAIL]`,
    * IPv4 → `[IP]`, `+`-prefixed phones → `[PHONE]`). Pure narrow pass.
    * The synthetic corpus is PII-free (all counts 0, hash = hash of the
    * lowercased text) — CorpusOpsSpec drives crafted PII through the same
    * expressions.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val lt = lower(coalesce(col("text"), lit("")))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(lt, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")
    docs(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(lt, lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(lt, lit(Ipv4Re), lit(0))).as("n_ips"),
        size(regexp_extract_all(lt, lit(PhoneRe), lit(0))).as("n_phones"),
        md5(redacted).as("redacted_hash"))
      .orderBy("doc_id")
  }

  val piiScrubSql: String = {
    // single-quote SQL escaping only — the char classes carry no quotes
    val (e, i, p) = (EmailRe, Ipv4Re, PhoneRe)
    s"""SELECT doc_id,
        CAST(len(regexp_extract_all(lower(coalesce(text,'')), '$e')) AS INT) AS n_emails,
        CAST(len(regexp_extract_all(lower(coalesce(text,'')), '$i')) AS INT) AS n_ips,
        CAST(len(regexp_extract_all(lower(coalesce(text,'')), '$p')) AS INT) AS n_phones,
        md5(regexp_replace(regexp_replace(regexp_replace(
          lower(coalesce(text,'')), '$e', '[EMAIL]', 'g'),
          '$i', '[IP]', 'g'),
          '$p', '[PHONE]', 'g')) AS redacted_hash
        FROM documents ORDER BY doc_id"""
  }

  // ------------------------------------------------------- URL curation

  /** Domain denylist for [[urlNormalize]] — the robots/spam-list a web
    * curation pass consults (a table in production; a literal here).
    */
  val UrlBlocklist = Seq("src7.example.com", "src13.example.com",
    "src19.example.com")

  /** Deterministic raw-URL fixture per document (the FIXTURES.md
    * pattern, like the markup fixture): scheme/`WWW.`/host-case/default-
    * port/tracking-param/fragment noise varies with doc_id so every
    * normalization rule fires on a known subset.
    */
  private def rawUrlExpr: Column = {
    val http = col("doc_id") % 3 === 0
    concat(
      when(http, lit("HTTP")).otherwise(lit("https")), lit("://"),
      when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".Example.COM"),
      when(http, lit(":80")).otherwise(lit(":443")),
      lit("/Articles/"), col("doc_id").cast("string"),
      lit("?utm_source=feed&id="), col("doc_id").cast("string"),
      lit("&utm_campaign=spring&ref=kept#section-2"))
  }

  private val duckRawUrl: String =
    """CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END || '://'
       || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
       || source || '.Example.COM'
       || CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END
       || '/Articles/' || doc_id
       || '?utm_source=feed&id=' || doc_id
       || '&utm_campaign=spring&ref=kept#section-2'"""

  /** URL canonicalization + denylist gate — the first stage of a web
    * curation pipeline (CCNet/RefinedWeb shape): lowercase scheme and
    * host (path case is preserved — it is significant), strip the
    * scheme-default port and the `www.` prefix, drop `utm_*` tracking
    * parameters (array filter over the query string — other params
    * survive in order), drop the fragment, and flag domains on
    * [[UrlBlocklist]]. Everything is regex + array ops from the
    * RE2/Java-common subset, shared with the oracle; pure narrow
    * projection at any scale. Output: (doc_id, domain, norm_url,
    * is_blocked), sorted.
    */
  def urlNormalize(spark: SparkSession, dir: String): DataFrame = {
    val u = col("url")
    val scheme = lower(regexp_extract(u, "^([A-Za-z]+)://", 1))
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(u, "^[A-Za-z]+://([^/?#]+)", 1)),
      ":(80|443)$", ""), "^www\\.", "")
    val path = regexp_extract(u, "^[A-Za-z]+://[^/?#]+(/[^?#]*)", 1)
    val qKeep = array_join(
      filter(split(regexp_extract(u, "\\?([^#]*)", 1), "&"),
        p => !p.startsWith("utm_")), "&")
    docs(spark, dir).select(col("doc_id"), col("source"))
      .withColumn("url", rawUrlExpr)
      .select(col("doc_id"), host.as("domain"),
        concat(scheme, lit("://"), host, path,
          when(qKeep =!= "", concat(lit("?"), qKeep)).otherwise(lit("")))
          .as("norm_url"))
      .withColumn("is_blocked", col("domain").isin(UrlBlocklist: _*))
      .orderBy("doc_id")
  }

  val urlNormalizeSql: String = {
    val bl = UrlBlocklist.map(d => s"'$d'").mkString("(", ", ", ")")
    s"""WITH r AS (SELECT doc_id, $duckRawUrl AS url FROM documents),
        p AS (SELECT doc_id, url,
            lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
            regexp_replace(regexp_replace(
              lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
              ':(80|443)$$', ''), '^www\\.', '') AS host,
            regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
            array_to_string(list_filter(
              string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
              x -> NOT starts_with(x, 'utm_')), '&') AS q
          FROM r)
        SELECT doc_id, host AS domain,
          scheme || '://' || host || path ||
            CASE WHEN q <> '' THEN '?' || q ELSE '' END AS norm_url,
          host IN $bl AS is_blocked
        FROM p ORDER BY doc_id"""
  }

  /** Per-domain quota for [[domainCaps]] — below the fixtures' 25
    * docs/source so the drop branch is exercised.
    */
  val DomainCap = 20

  /** Per-domain document caps — the anti-flooding stage after
    * normalization (a handful of template-heavy domains would otherwise
    * dominate a crawl's token budget): keep at most [[DomainCap]] docs
    * per domain, best [[TextAnalysis.qualityScore]] first (doc_id
    * tiebreak), report the per-domain manifest with the kept set pinned
    * by an exact id checksum. The rank window partitions by DOMAIN —
    * real-web domain cardinality scales with the data (millions), so
    * this is the sessionization shape, not the |sources| trap; one
    * pathological mega-domain caps the window sort at its own size, and
    * the bounded-buffer [[graft.functions.TopK]] aggregator form
    * (`q_topk_agg` precedent) applies unchanged if even that offends.
    * Output: (domain, n_docs, n_kept, kept_id_sum), sorted.
    */
  def domainCaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dom = docs(spark, dir).select(col("doc_id"),
      concat(col("source"), lit(".example.com")).as("domain"))
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
    val w = Window.partitionBy("domain")
      .orderBy(col("quality").desc, col("doc_id"))
    dom.join(q, "doc_id")
      .withColumn("kept", row_number().over(w) <= DomainCap)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("doc_id"))).as("kept_id_sum"))
      .orderBy("domain")
  }

  val domainCapsSql: String =
    s"""WITH q AS (${TextAnalysis.qualityScoreSql}),
        d AS (SELECT q.doc_id, doc.source || '.example.com' AS domain,
            q.quality
          FROM q JOIN documents doc ON q.doc_id = doc.doc_id),
        r AS (SELECT doc_id, domain,
            row_number() OVER (PARTITION BY domain
              ORDER BY quality DESC, doc_id) <= $DomainCap AS kept
          FROM d)
        SELECT domain, count(*) AS n_docs,
          CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(sum(CASE WHEN kept THEN doc_id END) AS BIGINT) AS kept_id_sum
        FROM r GROUP BY domain ORDER BY domain"""

  // ------------------------------------------------------------------ OOV

  /** Vocabulary size for the OOV gate — below the synthetic corpus's 31
    * distinct words so the out-of-vocabulary branch is exercised.
    */
  val OovVocabSize = 20

  /** Out-of-vocabulary rate per document against the corpus's top-
    * [[OovVocabSize]] words by document frequency (ties broken
    * alphabetically — deterministic in both engines). Two-pass plan: the
    * vocabulary is a tiny aggregate collapsed to ONE array row and
    * cross-joined (broadcast) back over the corpus, so the per-doc pass
    * is narrow — the corpus never shuffles. Output:
    * (doc_id, n_tokens, n_oov, oov_frac).
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .where(size(col("t")) > 0)
    val vocab = d
      .select(explode(array_distinct(col("t"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w"))
      .limit(OovVocabSize)
      .agg(collect_set(col("w")).as("va"))
    val nOov = size(filter(col("t"), w => !array_contains(col("va"), w)))
    d.crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        size(col("t")).as("n_tokens"),
        nOov.as("n_oov"),
        (nOov.cast("double") / size(col("t")).cast("double")).as("oov_frac"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- entropy

  /** Token Shannon entropy per document: −Σ p·ln p over the document's
    * own token distribution — low entropy = repetitive/templated text,
    * complementing [[repetitionStats]] (n-gram level) and TTR. Per-token
    * counts come from an in-row filter over the token array (O(distinct·
    * len) per row, bounded by document length); each p·ln p term is
    * rounded at the transcendental AND cast to `decimal(28,12)` — the
    * decimal cast canonicalizes the grid value (the engines' round()
    * implementations land an ulp apart: BigDecimal HALF_UP vs double-
    * arithmetic x·1e10 — seen as 325/500 mismatches without the cast),
    * and the per-doc decimal SUM is exact, so neither partial-agg order
    * nor distinct-array order can move the result. `0.0 − sum` (not
    * unary negation) keeps a zero-entropy doc at +0.0 in both engines.
    * Output: (doc_id, n_tokens, entropy).
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    val n = size(t)
    val p = size(filter(t, x => x === col("w"))).cast("double") /
      col("n").cast("double")
    val term = round(p * log(p), 10).cast("decimal(28,12)")
    docs(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .where(n > 0)
      .select(col("doc_id"), col("t"), n.as("n"),
        explode(array_distinct(t)).as("w"))
      .groupBy("doc_id")
      .agg(first(col("n")).cast("int").as("n_tokens"),
        (lit(0.0) - sum(term).cast("double")).as("entropy"))
      .orderBy("doc_id")
  }

  val tokenEntropySql: String = {
    val p = "CAST(len(list_filter(t, x -> x = w)) AS DOUBLE) / CAST(n AS DOUBLE)"
    s"""WITH f AS (SELECT doc_id, $duckToks AS t FROM documents),
        g AS (SELECT doc_id, t, len(t) AS n, unnest(list_distinct(t)) AS w
          FROM f WHERE len(t) > 0)
        SELECT doc_id, CAST(n AS INT) AS n_tokens,
          CAST(0.0 AS DOUBLE)
            - CAST(sum(CAST(round(($p) * ln($p), 10) AS DECIMAL(28,12)))
                AS DOUBLE) AS entropy
        FROM g GROUP BY doc_id, n ORDER BY doc_id"""
  }

  // ------------------------------------------------------------- logprob

  /** Unigram language-model score per document: mean add-one-smoothed
    * log-probability of its tokens under the corpus's own unigram model —
    * the perplexity-style filter that ranks fluent-for-this-corpus text
    * above outliers. Two-pass plan: corpus counts (one shuffle on words;
    * at scale that table joins back shuffle-side, here broadcast picks
    * itself), the (N, V) scalars ride along as one broadcast row.
    *
    * Engine-exactness: each `ln` is rounded to 10 decimals (JVM Math.log
    * is 1 ulp off libm — repo convention), then summed in
    * `decimal(28,12)` so the partial-aggregation ORDER cannot change the
    * double sum; one final division and rounding. Output:
    * (doc_id, n_tokens, logprob).
    */
  def logProb(spark: SparkSession, dir: String): DataFrame = {
    val tok = docs(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
    val cnt = tok.groupBy("w").agg(count(lit(1)).as("c"))
    // N = Σc and V = |cnt| both fold out of the counts table — deriving
    // them from `tok` directly would scan the token stream two more times
    val nv = cnt.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val lp = round(
      log((col("c") + 1).cast("double") / (col("n") + col("v")).cast("double")),
      10).cast("decimal(28,12)")
    tok.join(cnt, "w").crossJoin(broadcast(nv))
      .select(col("doc_id"), lp.as("l"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_tokens"), sum(col("l")).as("sl"))
      // NO final rounding: both engines divide the identical decimal-sum-
      // cast-double by the identical count, so the quotient is already
      // bit-equal — a round(·,10) here actually BREAKS parity (the
      // engines' tie-breaking at the 1e-10 grid differs; seen at sf0.1)
      .select(col("doc_id"), col("n_tokens"),
        (col("sl").cast("double") / col("n_tokens").cast("double"))
          .as("logprob"))
      .orderBy("doc_id")
  }

  val logProbSql: String =
    s"""WITH f AS (SELECT doc_id, $duckToks AS t FROM documents),
        tok AS (SELECT doc_id, unnest(t) AS w FROM f),
        cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        nv AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM cnt),
        lp AS (SELECT tok.doc_id,
            CAST(round(ln(CAST(cnt.c + 1 AS DOUBLE)
              / CAST(nv.n + nv.v AS DOUBLE)), 10) AS DECIMAL(28,12)) AS l
          FROM tok JOIN cnt ON tok.w = cnt.w, nv)
        SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
          CAST(sum(l) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS logprob
        FROM lp GROUP BY doc_id ORDER BY doc_id"""

  /** Bigram language-model score per document — [[logProb]]'s n-gram
    * upgrade, the better fluency filter (a doc of common words in an
    * impossible ORDER scores low here but fine under unigrams): mean
    * add-one-smoothed conditional log-probability
    * ln((c(w₁w₂)+1)/(c(w₁)+V)) over the doc's bigrams, model trained on
    * the corpus itself.
    *
    * Plan shape: bigrams are built IN-ROW (zip the token array against
    * its own tail, explode once — no positional self-join); the bigram
    * dictionary aggregates on (w₁,w₂) once, is enriched with the unigram
    * counts, and joins back to the bigram stream — at corpus scale the
    * Zipf-bounded dictionary broadcasts while the stream never shuffles
    * twice. Docs with fewer than two tokens have no bigrams and are
    * excluded (their fluency is unmeasurable, not zero). Same ln-round +
    * decimal-sum parity discipline as [[logProb]].
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val f = docs(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .where(size(col("t")) >= 2)
    val bs = f.select(col("doc_id"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cb = bs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val tok = docs(spark, dir)
      .select(explode(toks(col("text"))).as("w"))
    val cu = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val v = cu.agg(count(lit(1)).as("v"))
    val dict = cb.join(cu, cb("w1") === cu("w")).crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        round(log((col("c12") + 1).cast("double")
          / (col("c") + col("v")).cast("double")), 10)
          .cast("decimal(28,12)").as("l"))
    bs.join(dict, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"), sum(col("l")).as("sl"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sl").cast("double") / col("n_bigrams").cast("double"))
          .as("logprob"))
      .orderBy("doc_id")
  }

  val bigramLmSql: String =
    s"""WITH f AS (SELECT doc_id, $duckToks AS t FROM documents),
        bs AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
               FROM f, unnest(range(1, len(t))) AS u(i)
               WHERE len(t) >= 2),
        cb AS (SELECT w1, w2, count(*) AS c12 FROM bs GROUP BY w1, w2),
        cu AS (SELECT w, count(*) AS c
               FROM (SELECT unnest(t) AS w FROM f) GROUP BY w),
        v AS (SELECT count(*) AS v FROM cu),
        dict AS (SELECT w1, w2,
            CAST(round(ln(CAST(c12 + 1 AS DOUBLE)
              / CAST(c + v.v AS DOUBLE)), 10) AS DECIMAL(28,12)) AS l
          FROM cb JOIN cu ON cu.w = cb.w1, v)
        SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
          CAST(sum(l) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS logprob
        FROM bs JOIN dict USING (w1, w2)
        GROUP BY doc_id ORDER BY doc_id"""

  // -------------------------------------------------------- split leakage

  /** Train/test contamination check: near-duplicate pairs whose endpoints
    * land in DIFFERENT splits of the deterministic hash split — each such
    * pair is a test document whose near-copy is trained on (the leakage
    * that silently inflates eval numbers). Composes the df-capped Jaccard
    * pair graph with the split assignment; at 100 TB the split column is
    * a per-row hash (no join against a split table) and the pair graph is
    * the already-bounded near-dup output, so the check costs one narrow
    * projection over it. Output: (doc_a, doc_b, split_a, split_b,
    * jaccard), only crossing pairs.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.jaccardPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        TextAnalysis.splitExpr(col("doc_a")).as("split_a"),
        TextAnalysis.splitExpr(col("doc_b")).as("split_b"),
        col("jaccard"))
      .where(col("split_a") =!= col("split_b"))
      .orderBy("doc_a", "doc_b")

  val splitLeakageSql: String = {
    // the split definition is TextAnalysis.splitExpr/duckSplitExpr — the
    // SAME one the pipeline assigns, so the leakage check cannot drift
    def split(c: String): String = TextAnalysis.duckSplitExpr(c)
    s"""WITH p AS (${graft.dedup.Dedup.jaccardPairsSql})
        SELECT doc_a, doc_b, ${split("doc_a")} AS split_a,
          ${split("doc_b")} AS split_b, jaccard
        FROM p WHERE ${split("doc_a")} <> ${split("doc_b")}
        ORDER BY doc_a, doc_b"""
  }

  // --------------------------------------------------------- quality gate

  val GatePercentile = 0.25

  /** Quality percentile gate: keep documents at or above the corpus's
    * exact P25 quality. The threshold is data-dependent — one exact
    * interpolated percentile over the whole corpus, collapsed to a single
    * broadcast row and crossed back (same shape as [[oovRate]]'s
    * vocabulary). Output is integer kept/dropped counts per language:
    * counts are drift-proof because the interpolated threshold lies
    * strictly BETWEEN adjacent order statistics (or exactly ON one when
    * the rank fraction is 0), so a 1-ulp interpolation difference between
    * engines cannot flip any document across the gate.
    *
    * Scale note: `percentile` is the EXACT aggregate (per-partition
    * value→count maps, memory grows with distinct values) — right for the
    * oracle-checked contract, wrong past ~10⁸ distinct scores. At corpus
    * scale swap it for `percentile_approx` (mergeable quantile summary,
    * fixed memory — the `q_approx_stats` machinery); the broadcast-
    * threshold plan shape and integer output contract are unchanged.
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
      .where(size(col("t")) > 0)
      .select(col("doc_id"), col("lang"), TextAnalysis.qualityExpr.as("quality"))
    // round to 10 decimals on both sides: the engines' interpolation
    // FORMULAS differ (Spark lo·(1−f)+hi·f vs DuckDB lo+(hi−lo)·f), which
    // can land an ulp apart when the adjacent order statistics are
    // themselves only ulps apart — rounding snaps both to the same grid
    // point (the repo's convention for transcendentals, SURVEY §8.2)
    val thr = d.agg(round(percentile(col("quality"), lit(GatePercentile)), 10)
      .as("thr"))
    d.crossJoin(broadcast(thr))
      .groupBy("lang")
      .agg(sum(when(col("quality") >= col("thr"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("quality") < col("thr"), 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("lang")
  }

  val qualityGateSql: String =
    s"""WITH q0 AS (${TextAnalysis.qualityScoreSql}),
        q AS (SELECT q0.doc_id, d.lang, q0.quality
          FROM q0 JOIN documents d ON q0.doc_id = d.doc_id),
        t AS (SELECT round(quantile_cont(quality, $GatePercentile), 10) AS thr
              FROM q)
        SELECT lang,
          CAST(sum(CASE WHEN quality >= thr THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept,
          CAST(sum(CASE WHEN quality < thr THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped
        FROM q, t GROUP BY lang ORDER BY lang"""

  val oovRateSql: String =
    s"""WITH f AS (SELECT doc_id, $duckToks AS t FROM documents),
        f2 AS (SELECT doc_id, t FROM f WHERE len(t) > 0),
        tok AS (SELECT doc_id, unnest(list_distinct(t)) AS w FROM f2),
        dfc AS (SELECT w, count(*) AS df FROM tok GROUP BY w),
        vocab AS (SELECT w FROM (
            SELECT w, row_number() OVER (ORDER BY df DESC, w) AS rn FROM dfc)
          WHERE rn <= $OovVocabSize),
        va AS (SELECT list(w) AS va FROM vocab)
        SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
          CAST(len(list_filter(t, w -> NOT list_contains(va, w))) AS INT) AS n_oov,
          CAST(len(list_filter(t, w -> NOT list_contains(va, w))) AS DOUBLE)
            / CAST(len(t) AS DOUBLE) AS oov_frac
        FROM f2, va ORDER BY doc_id"""

  // -------------------------------------------------------- contamination

  /** Benchmark DECONTAMINATION: for every eval-split ("test") document,
    * the fraction of its distinct word-3-gram shingles that also occur
    * anywhere in the train split — the n-gram-overlap check run before
    * training to keep eval benchmarks out of the training corpus
    * (complements [[splitLeakage]], which flags whole near-dup documents;
    * this measures PARTIAL overlap at n-gram granularity).
    *
    * Plan shape for 100 TB: shingles are 48-bit longs
    * ([[graft.dedup.Dedup.shingles]] — in-row hash + distinct), so the
    * train-set distinct and the flag join both move 8-byte keys. The
    * shingle pipeline (tokenize + per-n-gram md5 — the dominant cost)
    * runs once per document across the WHOLE plan: the train/eval split
    * predicate is a pure function of doc_id, so it filters BELOW the
    * tokenize work — the train branch hashes only train docs, the eval
    * branch only eval docs — and both per-doc counts come from ONE
    * groupBy over the eval rows LEFT-JOINED against the (distinct,
    * hit-marked) train-shingle set: per eval shingle the join matches at
    * most one marker row (never multiplies, a shingle in millions of
    * train docs costs one probe), and `count(hit)` vs `count(*)` splits
    * contaminated from total in the same partial-aggregated exchange.
    * Output: (doc_id, n_shingles, n_contaminated, contamination_rate).
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.dedup.Dedup.shingles(docs(spark, dir))
      .withColumn("is_train",
        TextAnalysis.splitExpr(col("doc_id")) === "train")
    val train = sh.where(col("is_train")).select("shingle_h").distinct()
      .withColumn("hit", lit(1))
    val ev = sh.where(!col("is_train")).select("doc_id", "shingle_h")
    ev.join(train, Seq("shingle_h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("hit")).as("n_contaminated"))
      .withColumn("contamination_rate",
        col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
      .orderBy("doc_id")
  }

  val contaminationSql: String = {
    val split = TextAnalysis.duckSplitExpr("doc_id")
    s"""WITH ${graft.dedup.Dedup.duckShingles},
        labeled AS (SELECT doc_id, shingle_h, $split AS split FROM sh),
        train AS (SELECT DISTINCT shingle_h FROM labeled
                  WHERE split = 'train'),
        ev AS (SELECT doc_id, shingle_h FROM labeled WHERE split = 'test'),
        tot AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY doc_id),
        hit AS (SELECT doc_id, count(*) AS n_contaminated FROM ev
                WHERE shingle_h IN (SELECT shingle_h FROM train)
                GROUP BY doc_id)
        SELECT tot.doc_id, tot.n_shingles,
          COALESCE(hit.n_contaminated, 0) AS n_contaminated,
          CAST(COALESCE(hit.n_contaminated, 0) AS DOUBLE)
            / CAST(tot.n_shingles AS DOUBLE) AS contamination_rate
        FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
        ORDER BY tot.doc_id"""
  }

  /** Leakage-PROOF train/test split — the constructive complement of
    * [[splitLeakage]] (which only DETECTS near-dup pairs crossing the
    * split): assign each document the split of its near-dup CLUSTER
    * CANONICAL, so a document and all its near-copies land on the same
    * side by construction and a test example can never have a trained-on
    * near-duplicate. Same salt/modulus as [[TextAnalysis.splitExpr]] —
    * unclustered docs (their own canonical) get exactly the plain split,
    * so adopting the group split only moves docs that had a leaking
    * twin. Cost at scale: the cluster labels are tiny next to the corpus
    * (pairs above 0.8 Jaccard), so the label join broadcasts and the
    * split itself stays a pure projection — no shuffle beyond what the
    * cluster resolution already did. Output: (doc_id, canonical_id,
    * split).
    */
  def groupSplit(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.dedupSurvivors(spark, dir)
      .select(col("doc_id"), col("canonical_id"),
        TextAnalysis.splitExpr(col("canonical_id")).as("split"))
      .orderBy("doc_id")

  val groupSplitSql: String =
    s"""WITH cl AS (${graft.dedup.Dedup.nearDupClustersSql}),
        canon AS (SELECT d.doc_id,
            COALESCE(cl.canonical_id, d.doc_id) AS canonical_id
          FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
        SELECT doc_id, canonical_id,
          ${TextAnalysis.duckSplitExpr("canonical_id")} AS split
        FROM canon ORDER BY doc_id"""

  // ------------------------------------------------------------- sharding

  /** Declared shard count. Small here so the sf fixtures exercise every
    * shard; at 100 TB you set it to thousands — the whole design is one
    * hash-partitioned exchange whose parallelism IS the shard count.
    */
  val NShards = 8

  /** THE shard assignment (salt + modulus) — shared by the declared
    * query and [[graft.sources.Sources.writeShuffledShards]] so the
    * manifest a user audits can never drift from the files the writer
    * lays down. A distinct salt from [[TextAnalysis.splitExpr]]'s keeps
    * shard and train/test assignments independent.
    */
  private[graft] def shardKey(idCol: Column): Column =
    Hashing.h48(concat(lit("shard-"), idCol))

  /** Deterministic global shuffle + shard manifest — the step between
    * curation and training: assign every document a shard and a
    * WITHIN-SHARD sort key, both pure hash functions of the doc id
    * (stable across runs, retries, machines and engines — `rand()`-based
    * shuffles are none of these, and a re-run that shards differently
    * silently changes which examples co-occur in a batch). Sorting each
    * shard by the key yields a pseudo-random document order with no
    * global sort: the expensive total ordering a naive ORDER BY
    * rand() would shuffle the whole corpus for. Deliberately NO
    * per-shard row_number here — a dense index forces one task per
    * shard (the window's partition), which caps parallelism at
    * [[NShards]] regardless of cluster size; loaders need an order, not
    * ordinals. Output: (doc_id, shard, sort_key), one narrow pass.
    */
  def corpusShards(spark: SparkSession, dir: String): DataFrame = {
    val key = shardKey(col("doc_id"))
    // plain load, not loadSpread: the manifest is a pure projection of
    // the id column — the compute-spreading repartition would shuffle
    // the table for a few hash ops per row
    graft.model.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), (key % NShards).cast("int").as("shard"),
        key.as("sort_key"))
      .orderBy("shard", "sort_key", "doc_id")
  }

  val corpusShardsSql: String = {
    val key = duckH48("concat('shard-', doc_id)")
    s"""SELECT doc_id, CAST($key % $NShards AS INT) AS shard,
          $key AS sort_key
        FROM documents ORDER BY shard, sort_key, doc_id"""
  }

  /** Shard-balance audit — is the hash sharding actually level? Per
    * shard: docs, tokens, and the token deviation from the ideal
    * per-shard mean in ppm (signed). Training throughput is gated by the
    * SLOWEST shard (stragglers), so this is the number to watch before
    * accepting a layout; the hash-mod assignment keeps it tight and
    * deterministic, and the audit proves it per corpus. All-integer
    * (mean = total div NShards; deviation ppm vs that mean).
    * Output: (shard, n_docs, n_tokens, dev_ppm).
    */
  def shardBalance(spark: SparkSession, dir: String): DataFrame = {
    val key = shardKey(col("doc_id"))
    val cells = docs(spark, dir)
      .select((key % NShards).cast("int").as("shard"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val mean = broadcast(cells.agg(
      expr(s"sum(n_tokens) div $NShards").as("mean_tok")))
    cells.crossJoin(mean)
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        when(col("mean_tok") > 0,
          expr("(n_tokens - mean_tok) * 1000000 div mean_tok")).as("dev_ppm"))
      .orderBy("shard")
  }

  lazy val shardBalanceSql: String = {
    val key = duckH48("concat('shard-', doc_id)")
    s"""WITH c AS (SELECT CAST($key % $NShards AS INT) AS shard,
            CAST(len($duckToks) AS BIGINT) AS n_tok
          FROM documents),
        g AS (SELECT shard, count(*) AS n_docs,
            CAST(sum(n_tok) AS BIGINT) AS n_tokens
          FROM c GROUP BY shard),
        m AS (SELECT CAST(sum(n_tokens) // $NShards AS BIGINT) AS mean_tok
          FROM g)
        SELECT shard, n_docs, n_tokens,
          CAST(CASE WHEN m.mean_tok > 0 THEN
            (n_tokens - m.mean_tok) * 1000000 // m.mean_tok END AS BIGINT)
            AS dev_ppm
        FROM g, m ORDER BY shard"""
  }

  /** Tokens per packed training sequence. Small so the sf fixtures
    * produce many packs per shard; real runs use the model context
    * length (2k-128k).
    */
  val PackLen = 256L

  /** Sequence PACKING over the shard manifest: treat each shard's docs,
    * in [[corpusShards]] order, as ONE concatenated token stream cut
    * into consecutive [[PackLen]]-token training sequences, and report
    * where every document lands — (shard, start_tok, pack_id = the
    * sequence its first token falls in). This is the bridge from
    * "shuffled corpus" to "training batches": the loader that fills
    * sequence k of shard s takes the docs whose [start_tok,
    * start_tok+n_tok) interval intersects [k·L, (k+1)·L) — start
    * offsets are exact, so straddling docs are split at exactly the
    * right token. The running sum is one window per shard: the shard is
    * the engine's unit of parallelism by design (thousands at real
    * scale), so the window's partition-by-shard exchange scales with
    * the cluster, and within a shard the scan is linear — the same
    * shape the sorted shard writer already committed to. Integer token
    * counts ⇒ engine-exact.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = shardKey(col("doc_id"))
    val w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir)
      .select(col("doc_id"), (key % NShards).cast("int").as("shard"),
        key.as("sort_key"), size(toks(col("text"))).cast("long").as("n_tok"))
      .withColumn("start_tok", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("pack_id", expr(s"start_tok div $PackLen"))
      .select("doc_id", "shard", "n_tok", "start_tok", "pack_id")
      .orderBy("shard", "start_tok", "doc_id")
  }

  final case class PackDoc(doc_id: Long, shard: Int, sort_key: Long,
      n_tok: Long)
  final case class PackAssign(doc_id: Long, shard: Int, rn: Long,
      n_tok: Long, pack_id: Long)

  /** BOUNDARY-respecting greedy packing — the other packing policy
    * loaders choose from: a document never straddles a sequence; it
    * goes whole into the current pack if it fits, else opens the next
    * (paying padding waste), and an oversized doc (> [[PackLen]]
    * tokens) takes ⌈n/L⌉ packs alone. [[packSequences]] is the
    * zero-waste stream view; this is the no-split view — the waste vs
    * doc-integrity tradeoff made explicit.
    *
    * Greedy state (current pack, tokens used) depends non-linearly on
    * every earlier doc, so no window function expresses it — this is
    * the ONE legitimate `mapPartitions` case in the library: an
    * explicit per-shard sequential scan over the manifest order, state
    * resetting at shard boundaries. Parallelism is per shard (hash
    * co-location of shards in one task is fine — the scan resets), the
    * same unit the writer and stream packer commit to; memory is O(1).
    * The DuckDB twin walks identical per-shard recursion via a
    * recursive CTE, so the integer state machine is engine-exact.
    * Output: (doc_id, shard, rn = manifest position, n_tok, pack_id).
    */
  def packGreedy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val key = shardKey(col("doc_id"))
    val manifest = docs(spark, dir)
      .select(col("doc_id"), (key % NShards).cast("int").as("shard"),
        key.as("sort_key"), size(toks(col("text"))).cast("long").as("n_tok"))
      .as[PackDoc]
    manifest
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "sort_key", "doc_id")
      .mapPartitions { it =>
        var shard = Int.MinValue
        var rn = 0L; var pCur = 0L; var used = 0L
        it.map { d =>
          if (d.shard != shard) { shard = d.shard; rn = 0L; pCur = 0L; used = 0L }
          rn += 1
          val assigned =
            if (d.n_tok > PackLen) { // oversized: own pack(s)
              val p = if (used > 0) pCur + 1 else pCur
              pCur = p + (d.n_tok + PackLen - 1) / PackLen
              used = 0
              p
            } else if (used + d.n_tok <= PackLen) { // fits
              used += d.n_tok
              pCur
            } else { // overflow: open next pack
              pCur += 1
              used = d.n_tok
              pCur
            }
          PackAssign(d.doc_id, d.shard, rn, d.n_tok, assigned)
        }
      }
      .toDF()
      .orderBy("shard", "rn")
  }

  val packGreedySql: String = {
    val key = duckH48("concat('shard-', doc_id)")
    val L = PackLen
    s"""WITH RECURSIVE t AS (SELECT doc_id,
            CAST($key % $NShards AS INT) AS shard,
            CAST(len($duckToks) AS BIGINT) AS n_tok,
            row_number() OVER (PARTITION BY CAST($key % $NShards AS INT)
              ORDER BY $key, doc_id) AS rn
          FROM documents),
        rec AS (
          SELECT shard, CAST(0 AS BIGINT) AS rn,
            CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tok,
            CAST(NULL AS BIGINT) AS pack_id,
            CAST(0 AS BIGINT) AS p_cur, CAST(0 AS BIGINT) AS u
          FROM (SELECT DISTINCT shard FROM t)
          UNION ALL
          SELECT t.shard, t.rn, t.doc_id, t.n_tok,
            CASE WHEN t.n_tok > $L THEN
                   (CASE WHEN r.u > 0 THEN r.p_cur + 1 ELSE r.p_cur END)
                 WHEN r.u + t.n_tok <= $L THEN r.p_cur
                 ELSE r.p_cur + 1 END,
            CASE WHEN t.n_tok > $L THEN
                   (CASE WHEN r.u > 0 THEN r.p_cur + 1 ELSE r.p_cur END)
                   + ((t.n_tok + $L - 1) // $L)
                 WHEN r.u + t.n_tok <= $L THEN r.p_cur
                 ELSE r.p_cur + 1 END,
            CASE WHEN t.n_tok > $L THEN 0
                 WHEN r.u + t.n_tok <= $L THEN r.u + t.n_tok
                 ELSE t.n_tok END
          FROM rec r JOIN t ON t.shard = r.shard AND t.rn = r.rn + 1)
        SELECT doc_id, shard, rn, n_tok, pack_id
        FROM rec WHERE rn >= 1 ORDER BY shard, rn"""
  }

  val packSequencesSql: String = {
    val key = duckH48("concat('shard-', doc_id)")
    s"""WITH t AS (SELECT doc_id,
            CAST($key % $NShards AS INT) AS shard,
            $key AS sort_key,
            CAST(len($duckToks) AS BIGINT) AS n_tok
          FROM documents),
        c AS (SELECT doc_id, shard, n_tok,
            -- CAST: DuckDB widens the window sum to HUGEINT
            CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY sort_key, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              - n_tok AS start_tok
          FROM t)
        SELECT doc_id, shard, n_tok, start_tok,
          start_tok // $PackLen AS pack_id
        FROM c ORDER BY shard, start_tok, doc_id"""
  }

  // ---------------------------------------------------------------- mixing

  /** Source-weighted corpus mixing — re-weight a multi-source corpus to a
    * target mixture (the Pile/Llama-style "web 60%, books 20%, code 20%"
    * recipe) by deterministic per-source up/down-sampling. The declared
    * weight of a source here is `1 + (numeric suffix mod 3)` ∈ {1,2,3}
    * (portable across scale factors; a real run passes its own table);
    * the output budget equals the input size, so rates straddle 1 and
    * both branches (drop + epoch-repeat) are exercised.
    *
    * Everything is EXACT INTEGER arithmetic: with T = Σ n_s (budget),
    * W = Σ w_s, the target rate for source s is the rational
    * A_s/B_s = (T·w_s)/(W·n_s). Each doc gets
    *   n_copies = A_s div B_s  +  [h48("mix-"||doc_id) mod B_s < A_s mod B_s]
    * — floor(rate) whole epochs plus a hash-Bernoulli(frac(rate)) extra,
    * so per-source output lands within n_s·frac of the target and NO
    * float ever enters the plan (no rounding-parity risk with the
    * oracle, no platform drift). The same id always makes the same draw:
    * reruns, retries, and engines agree row-for-row.
    *
    * Scale (100 TB): the rate table is one tiny per-source aggregate
    * (|sources| rows); the (T, W) corpus totals collapse to a ONE-ROW
    * broadcast scalar crossed back onto it (not an empty-partition
    * window — the PlanAudit rule bans those outright, and the scalar
    * form stays flat however large |sources| grows); the copy decision
    * is a pure row function; upsampling explodes at most ceil(rate)
    * rows per doc. No corpus-wide shuffle at any point — the one
    * exchange is the |sources|-row aggregate.
    * Output: one row per emitted copy, (doc_id, source, epoch).
    */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // nullif before the cast: ANSI mode hard-errors on CAST('' AS BIGINT)
    val weight = lit(1L) +
      coalesce(nullif(regexp_extract(col("source"), "([0-9]+)$", 1), lit(""))
        .cast("long"), lit(0L)) % 3
    val counts = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      .withColumn("w_s", weight)
    val tot = broadcast(counts.agg(sum("n_s").as("t"), sum("w_s").as("w")))
    val rates = counts.crossJoin(tot)
      .withColumn("a", col("t") * col("w_s"))
      .withColumn("b", col("w") * col("n_s"))
      .select(col("source"), expr("a div b").as("base"),
        (col("a") % col("b")).as("rem"), col("b").as("den"))
    d.select("doc_id", "source")
      .join(broadcast(rates), Seq("source"))
      .withColumn("n_copies", col("base") +
        when(Hashing.h48(concat(lit("mix-"), col("doc_id"))) % col("den")
          < col("rem"), 1L).otherwise(0L))
      .select(col("doc_id"), col("source"),
        explode(when(col("n_copies") >= 1L,
          sequence(lit(1L), col("n_copies")))
          .otherwise(array().cast("array<bigint>"))).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  val corpusMixSql: String = {
    val h = duckH48("concat('mix-', doc_id)")
    s"""WITH stats AS (SELECT source, count(*) AS n_s,
            1 + COALESCE(CAST(NULLIF(
              regexp_extract(source, '([0-9]+)${"$"}', 1), '') AS BIGINT),
              0) % 3 AS w_s
          FROM documents GROUP BY source),
        -- CAST: DuckDB widens window sums to HUGEINT
        tot AS (SELECT source, n_s, w_s,
            CAST(sum(n_s) OVER () AS BIGINT) * w_s AS a,
            CAST(sum(w_s) OVER () AS BIGINT) * n_s AS b
          FROM stats),
        rates AS (SELECT source, a // b AS base, a % b AS rem, b AS den
          FROM tot),
        cop AS (SELECT d.doc_id, d.source,
            r.base + CASE WHEN $h % r.den < r.rem THEN 1 ELSE 0 END
              AS n_copies
          FROM documents d JOIN rates r USING (source))
        SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies))
            AS BIGINT) AS epoch
        FROM cop WHERE n_copies >= 1 ORDER BY doc_id, epoch"""
  }

  // ---------------------------------------------------------- dup n-grams

  /** Memorization-audit n-gram length (the 13-gram convention from the
    * GPT-3/PaLM contamination methodology) and report size.
    */
  val DupGramN = 13
  val DupGramTopK = 50

  /** Corpus-wide repeated n-gram audit — the memorization-risk report:
    * which exact [[DupGramN]]-grams recur across ≥ 2 distinct documents,
    * top [[DupGramTopK]] by total occurrence count. This is the
    * boilerplate/license-header/template detector run before training.
    *
    * TWO-PASS hash-first design: pass 1 explodes grams as 48-bit IN-ROW
    * hashes and aggregates (count, distinct docs) on the 8-byte key —
    * at 100 TB the shuffle carries hashes, never the ~90-byte gram
    * strings (≈11× shuffle-volume saving). The ≥2-docs filter + top-k
    * cut happen on that hash aggregate (deterministic cut key:
    * occurrences DESC, hash ASC). Pass 2 re-scans only to recover the
    * winning grams' TEXT: the ≤ [[DupGramTopK]]-row winner set
    * broadcast-joins against a fresh gram explode, taking min(gram) per
    * hash (dedup + collision determinism). Second scan beats shuffling
    * text for every gram — scans are cheap, wide shuffles are not.
    * Output: (gram, n_docs, n_occurrences, gh), occurrences-desc.
    */
  def dupNgrams(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val ts = toks(col("text"))
    // when-guard, not greatest(...,0): Spark's sequence(1, 0) DESCENDS
    // to [1, 0] instead of returning the empty sequence
    val grams = transform(
      when(size(ts) >= DupGramN,
        sequence(lit(1), size(ts) - (DupGramN - 1)))
        .otherwise(array().cast("array<int>")),
      i => concat_ws(" ", slice(ts, i, lit(DupGramN))))
    val top = d.select(col("doc_id"), explode(grams).as("gram"))
      .select(col("doc_id"), Hashing.h48(col("gram")).as("gh"))
      .groupBy("gh")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct("doc_id").as("n_docs"))
      .where(col("n_docs") >= 2L)
      .orderBy(col("n_occurrences").desc, col("gh").asc)
      .limit(DupGramTopK)
    d.select(explode(grams).as("gram"))
      .select(col("gram"), Hashing.h48(col("gram")).as("gh"))
      .join(broadcast(top), Seq("gh"))
      .groupBy("gh", "n_docs", "n_occurrences")
      .agg(min("gram").as("gram"))
      .select("gram", "n_docs", "n_occurrences", "gh")
      .orderBy(col("n_occurrences").desc, col("gh").asc)
  }

  val dupNgramsSql: String = {
    val n = DupGramN
    s"""WITH t AS (SELECT doc_id, $duckToks AS ts FROM documents),
        g AS (SELECT doc_id,
            array_to_string(ts[i:i+${n - 1}], ' ') AS gram
          FROM t, unnest(generate_series(1, greatest(len(ts) - ${n - 1}, 0)))
            AS u(i)),
        h AS (SELECT doc_id, gram, ${duckH48("gram")} AS gh FROM g),
        agg AS (SELECT gh, count(*) AS n_occurrences,
            count(DISTINCT doc_id) AS n_docs
          FROM h GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
        top AS (SELECT * FROM agg
          ORDER BY n_occurrences DESC, gh LIMIT $DupGramTopK)
        SELECT min(h.gram) AS gram, any_value(t.n_docs) AS n_docs,
          any_value(t.n_occurrences) AS n_occurrences, t.gh AS gh
        FROM top t JOIN h ON h.gh = t.gh
        GROUP BY t.gh ORDER BY n_occurrences DESC, gh"""
  }

  // -------------------------------------------------------- length buckets

  /** Power-of-two length-bucket geometry: bucket b holds docs with
    * n_tok ∈ (2^(b-1)·[[LenBucketBase]], 2^b·[[LenBucketBase]]], b=0 is
    * (0, base]. Matches the bucketed-batching schemes dynamic-padding
    * loaders use.
    */
  val LenBucketBase = 8L

  /** Length-bucketed batching report — the padding-efficiency audit run
    * before choosing a batching strategy: group documents into
    * power-of-two token-length buckets and report, per bucket, the
    * document count, real token total, the padded cost of batching those
    * docs to the bucket ceiling, and the pad overhead (padded − real) —
    * the tokens a loader would waste padding every doc in the bucket to
    * its cap. All integer arithmetic (log2 via bit length of the integer
    * quotient, not floating log) ⇒ engine-exact.
    *
    * Scale: one narrow projection (token count + in-row bucket math)
    * into a [[LenBucketBase]]-keyed aggregate of ~log₂(max_len) rows —
    * map-side combine collapses everything before the exchange.
    * Output: (bucket, cap_tok, n_docs, real_tok, padded_tok, pad_tok).
    */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val n = size(toks(col("text"))).cast("long")
    // bucket = smallest b with base·2^b ≥ n, i.e. for n > base the bit
    // length of x = (n-1) div base (= floor(log2 x) + 1). Computed as
    // length(bin(x)) — PURE INTEGER/STRING ops: floor(ln(x)/ln(2)) can
    // land below k at x = 2^k in either engine, bin() cannot.
    val x = expr(s"(n_tok - 1) div $LenBucketBase")
    val bucket = when(col("n_tok") <= LenBucketBase, 0L)
      .otherwise(length(bin(col("x"))).cast("long"))
    docs(spark, dir)
      .select(col("doc_id"), n.as("n_tok"))
      .where(col("n_tok") > 0L)
      .withColumn("x", x)
      .withColumn("bucket", bucket)
      .withColumn("cap_tok",
        expr(s"$LenBucketBase * shiftleft(1L, cast(bucket as int))"))
      .groupBy("bucket", "cap_tok")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("real_tok"))
      .withColumn("padded_tok", col("cap_tok") * col("n_docs"))
      .withColumn("pad_tok", col("padded_tok") - col("real_tok"))
      .select("bucket", "cap_tok", "n_docs", "real_tok", "padded_tok", "pad_tok")
      .orderBy("bucket")
  }

  val lengthBucketsSql: String =
    s"""WITH t AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tok
          FROM documents),
        b AS (SELECT doc_id, n_tok,
            CASE WHEN n_tok <= $LenBucketBase THEN 0
              ELSE CAST(len(bin((n_tok - 1) // $LenBucketBase)) AS BIGINT)
              END AS bucket
          FROM t WHERE n_tok > 0),
        c AS (SELECT doc_id, n_tok, bucket,
            $LenBucketBase * (CAST(1 AS BIGINT) << CAST(bucket AS INT))
              AS cap_tok
          FROM b)
        SELECT bucket, cap_tok, count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS real_tok,
          cap_tok * count(*) AS padded_tok,
          cap_tok * count(*) - CAST(sum(n_tok) AS BIGINT) AS pad_tok
        FROM c GROUP BY bucket, cap_tok ORDER BY bucket"""

  // ------------------------------------------------- importance weights

  val DsirDim = 256L

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much its hashed-bigram feature distribution looks like a TARGET
    * distribution vs the raw corpus — here the target is the corpus's own
    * high-quality slice (quality ≥ [[TextAnalysis.QualityThreshold]], the
    * same gate `q_corpus_clean` applies, so "looks like what we'd keep"
    * needs no external dataset). weight(d) = Σ_f ln p̂_t(f)/p̂_r(f) over
    * d's features, add-one smoothing over the [[DsirDim]] hash buckets;
    * resampling then keeps docs ∝ softmax(weight) — the weights are the
    * deliverable.
    *
    * Plan: ONE fused scan emits (doc_id, target-flag, feature) — the
    * quality flag is the in-row [[TextAnalysis.qualityExpr]], bigrams
    * hash in-row to bucket ids, so the exchange carries (8B, bool, 8B)
    * rows; both distributions aggregate in a single groupBy(f) with a
    * conditional sum (never two corpus passes); the [[DsirDim]]-row
    * log-ratio dictionary broadcasts back onto the feature stream. Same
    * ln-round + decimal-sum parity discipline as [[logProb]].
    */
  def importanceWeights(spark: SparkSession, dir: String): DataFrame = {
    val f = docs(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .where(size(col("t")) >= 2)
    val ft = f.select(col("doc_id"),
      (TextAnalysis.qualityExpr >= TextAnalysis.QualityThreshold).as("tgt"),
      explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
        Hashing.h48(concat_ws(" ", element_at(col("t"), i),
          element_at(col("t"), i + lit(1)))) % DsirDim)).as("f"))
    val cnt = ft.groupBy("f").agg(count(lit(1)).as("c_r"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("c_t"))
    val tot = cnt.agg(sum("c_r").as("n_r"), sum("c_t").as("n_t"))
    val lw = round(log(
        ((col("c_t") + 1) * (col("n_r") + DsirDim)).cast("double")
          / ((col("c_r") + 1) * (col("n_t") + DsirDim)).cast("double")), 10)
      .cast("decimal(28,12)")
    val dict = cnt.crossJoin(broadcast(tot)).select(col("f"), lw.as("lw"))
    ft.join(broadcast(dict), Seq("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_feats"),
        sum("lw").cast("double").as("weight"))
      .orderBy("doc_id")
  }

  val importanceWeightsSql: String =
    s"""WITH fx AS (SELECT doc_id, $duckToks AS t FROM documents),
        q AS (SELECT doc_id, quality
              FROM (${TextAnalysis.qualityScoreSql}) x),
        f2 AS (SELECT fx.doc_id, t,
                 q.quality >= ${TextAnalysis.QualityThreshold} AS tgt
               FROM fx JOIN q USING (doc_id) WHERE len(t) >= 2),
        ft AS (SELECT doc_id, tgt,
                 unnest(list_transform(range(1, len(t)),
                   i -> ${duckH48("t[i] || ' ' || t[i+1]")} % $DsirDim)) AS f
               FROM f2),
        cnt AS (SELECT f, count(*) AS c_r,
                  CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_t
                FROM ft GROUP BY f),
        tot AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
                  CAST(sum(c_t) AS BIGINT) AS n_t FROM cnt),
        dict AS (SELECT f,
            CAST(round(ln(CAST((c_t + 1) * (n_r + $DsirDim) AS DOUBLE)
              / CAST((c_r + 1) * (n_t + $DsirDim) AS DOUBLE)), 10)
              AS DECIMAL(28,12)) AS lw
          FROM cnt, tot)
        SELECT doc_id, CAST(count(*) AS INT) AS n_feats,
          CAST(sum(lw) AS DOUBLE) AS weight
        FROM ft JOIN dict USING (f)
        GROUP BY doc_id ORDER BY doc_id"""

  // ----------------------------------------------------------- curriculum

  val CurriculumDeciles = 10

  /** Curriculum ordering: every document assigned a difficulty decile by
    * quality score (decile 1 = highest quality, trained first — the
    * easy→hard schedule of curriculum learning), reported as the
    * per-decile manifest (count, id checksum, quality range) a training
    * loop consumes. Scores come from [[TextAnalysis.qualityScore]]
    * verbatim, so the schedule cannot drift from the declared quality op.
    *
    * Scale shape (the round-7 fix): decile BOUNDARIES are the nine
    * interior exact percentiles of quality, computed as ONE one-row
    * aggregate, broadcast, and every row classified against them — no
    * global window, no single-partition sort; the per-decile rollup
    * partial-aggregates as usual. At 100 TB the exact `percentile`
    * swaps for the mergeable quantile sketch ([[qualityGate]]'s
    * documented move) with the identical broadcast-classify plan.
    * Boundary parity uses the [[qualityGate]] round(·,10) snap, and the
    * strictly-between-order-statistics argument makes the per-decile
    * counts drift-proof. Contract note vs the ntile form: score-TIED
    * documents share a decile here (splitting a tie by doc_id is an
    * arbitrary schedule decision the boundary form refuses to make), so
    * decile populations are equal only up to tie groups.
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityScore(spark, dir).select("doc_id", "quality")
    val pcts = ((CurriculumDeciles - 1) to 1 by -1)
      .map(k => k.toDouble / CurriculumDeciles).toArray
    val thr = q.agg(transform(percentile(col("quality"), lit(pcts)),
      b => round(b, 10)).as("bnds"))
    q.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("quality"),
        (lit(1) + size(filter(col("bnds"), b => col("quality") < b)))
          .as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
        min("quality").as("min_q"), max("quality").as("max_q"))
      .orderBy("decile")
  }

  val curriculumSql: String = {
    val pctList = ((CurriculumDeciles - 1) to 1 by -1)
      .map(k => s"0.$k").mkString("[", ", ", "]")
    s"""WITH q AS (SELECT doc_id, quality
          FROM (${TextAnalysis.qualityScoreSql}) t),
        b AS (SELECT list_transform(quantile_cont(quality, $pctList),
                x -> round(x, 10)) AS bnds FROM q),
        d AS (SELECT doc_id, quality,
          CAST(1 + len(list_filter(bnds, x -> quality < x)) AS INT) AS decile
        FROM q, b)
        SELECT decile, count(*) AS n_docs,
          CAST(sum(doc_id) AS BIGINT) AS id_sum,
          min(quality) AS min_q, max(quality) AS max_q
        FROM d GROUP BY decile ORDER BY decile"""
  }

  // -------------------------------------------------------- inspect sample

  val InspectK = 5

  /** Deterministic per-source inspection sample — the "eyeball k random
    * docs from every source" step of a curation review, as a pure function
    * of the data: the [[InspectK]] docs with the smallest
    * h48("sample-"‖doc_id) per source (a uniform draw in expectation,
    * reproducible across runs/engines — `TABLESAMPLE`/`rand()` is
    * neither). This runs as the bounded-buffer [[graft.functions.TopK]]
    * aggregator (min-k by (h, doc_id) via the (−h desc, padded-id asc)
    * order), NOT as a per-source window: source cardinality does not
    * scale with data, so a window would sort ever-larger partitions,
    * while the aggregator carries at most 2k candidates per source per
    * map task — the swap the round-8 survey documented, now the
    * implementation. Tag encoding: doc_id zero-padded to 20 digits so
    * the aggregator's STRING tie-break equals numeric doc_id order; h
    * is 48-bit so −h round-trips a double exactly.
    */
  def inspectSample(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("source"), col("doc_id"),
        Hashing.h48(concat(lit("sample-"), col("doc_id"))).as("h"))
    val fn = udaf(new graft.functions.TopK.TopKAggregator(InspectK))
    d.groupBy("source")
      .agg(fn(lpad(col("doc_id").cast("string"), 20, "0"),
        -col("h").cast("double")).as("topk"))
      .select(col("source"), posexplode(col("topk")).as(Seq("i", "s")))
      .select(col("source"), col("s.tag").cast("long").as("doc_id"),
        (-col("s.score")).cast("long").as("h"),
        (col("i") + 1).cast("int").as("rk"))
      .orderBy("source", "rk")
  }

  val inspectSampleSql: String =
    s"""WITH d AS (SELECT source, doc_id,
          ${duckH48("concat('sample-', doc_id)")} AS h
        FROM documents),
        r AS (SELECT source, doc_id, h,
          row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        FROM d)
        SELECT source, doc_id, h, CAST(rk AS INT) AS rk
        FROM r WHERE rk <= $InspectK ORDER BY source, rk"""

  /** Weighted-sample size. */
  val WeightedK = 50

  /** WEIGHTED reproducible sampling (Efraimidis–Spirakis A-ES): draw
    * [[WeightedK]] docs with probability proportional to weight — here
    * n_chars, the "sample by token mass" convention a distillation seed
    * set or an eyeball audit of WHAT THE MODEL WILL ACTUALLY SEE wants
    * (uniform doc sampling over-represents short docs relative to their
    * training contribution). A-ES: key_i = u_i^(1/w_i) and keep the k
    * largest, which order-equals ln(u_i)/w_i — one weighted draw WITHOUT
    * replacement, streamable, and a pure function of the data: u_i
    * derives from h48("wsample-"‖doc_id), so reruns, retries and both
    * engines select the identical set (`TABLESAMPLE`/`rand()` is none of
    * that). Parity discipline: ln rounded to 10 decimals then
    * decimal(28,12)-snapped (the transcendental convention — JVM log and
    * libm disagree by an ulp on some arguments), the closing division by
    * the exact integer weight IEEE-deterministic on bit-equal operands.
    * Plan: one narrow scan → global top-k as TakeOrdered (never a sort;
    * k rows per map task reduce to one k-row result — the same shape at
    * any corpus size).
    */
  /** A-ES priority ln(u)/w — see [[weightedSample]] for the contract. */
  private def aesPriority: org.apache.spark.sql.Column = {
    // u ∈ (0, 1]: h48 is a 48-bit value, so the scale is 2^48 (a 31-bit
    // divisor would make u > 1, flip ln(u) positive and invert the tilt)
    val u = (Hashing.h48(concat(lit("wsample-"), col("doc_id"))) + lit(1L))
      .cast("double") / lit(281474976710656.0)
    round(log(u), 10).cast("decimal(28,12)").cast("double") /
      greatest(col("n_chars"), lit(1L)).cast("double")
  }

  private val aesPrioritySql: String =
    s"""CAST(CAST(round(ln(CAST(${duckH48("concat('wsample-', doc_id)")}
          + 1 AS DOUBLE) / 281474976710656.0), 10) AS DECIMAL(28,12))
        AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE)"""

  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        aesPriority.as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(WeightedK)

  val weightedSampleSql: String =
    s"""SELECT doc_id, source, n_chars, $aesPrioritySql AS priority
        FROM documents
        ORDER BY priority DESC, doc_id LIMIT $WeightedK"""

  /** Per-source weighted-sample size. */
  val StratWeightedK = 5

  /** PER-SOURCE weighted sampling — [[weightedSample]]'s stratified
    * twin and [[inspectSample]]'s weighted upgrade: the
    * [[StratWeightedK]] best A-ES draws per source (token-mass
    * weighted, reproducible — the per-crawl eyeball set that reflects
    * what each source actually contributes to training). Runs through
    * the bounded-buffer [[graft.functions.TopK.TopKAggregator]] —
    * ≤2k candidates per source per map task, no per-source window
    * sort — so one pathological mega-source costs the same as any
    * other (the `q_domain_caps` defense, reused). Tie rule matches
    * the oracle's (priority DESC, doc_id ASC) via the aggregator's
    * (score, zero-padded tag) order.
    */
  def weightedSamplePerSource(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("source"), col("doc_id"), aesPriority.as("priority"))
    val fn = udaf(new graft.functions.TopK.TopKAggregator(StratWeightedK))
    d.groupBy("source")
      .agg(fn(lpad(col("doc_id").cast("string"), 20, "0"),
        col("priority")).as("topk"))
      .select(col("source"), posexplode(col("topk")).as(Seq("i", "s")))
      .select(col("source"), col("s.tag").cast("long").as("doc_id"),
        col("s.score").as("priority"), (col("i") + 1).cast("int").as("rk"))
      .orderBy("source", "rk")
  }

  val weightedSamplePerSourceSql: String =
    s"""WITH d AS (SELECT source, doc_id, $aesPrioritySql AS priority
          FROM documents),
        r AS (SELECT source, doc_id, priority,
          row_number() OVER (PARTITION BY source
            ORDER BY priority DESC, doc_id) AS rk
        FROM d)
        SELECT source, doc_id, priority, CAST(rk AS INT) AS rk
        FROM r WHERE rk <= $StratWeightedK ORDER BY source, rk"""

  // -------------------------------------------------- signal correlation

  /** Spearman rank correlation between two curation signals per source —
    * "does the cheap heuristic agree with the LM filter, and on which
    * crawl do they diverge?": ρ of ([[TextAnalysis.qualityScore]].quality,
    * [[logProb]].logprob) over each source's documents. Rank-based, so it
    * sees monotone agreement without assuming the two scores share a
    * scale — exactly the audit run before replacing an expensive filter
    * with a cheap proxy.
    *
    * Exactness: tie-averaged ranks enter as the INTEGER transform
    * 2·rank + ties − 1 (= twice the average rank; Spearman is invariant
    * under linear rank maps, so ρ is unchanged and no fraction ever
    * appears), the five power sums aggregate in exact decimals, and the
    * closing Pearson form runs in doubles over identically-rounded casts
    * — every arithmetic op IEEE-deterministic on bit-equal operands, no
    * engine drift. Constant-signal sources yield NULL (undefined ρ), the
    * [[graft.relational.Relational!.momentCols momentCols]] convention.
    *
    * Scale (the round-7 fix, re-planned in round 8 after measurement):
    * each per-source rank decomposes over the FIXED value grids
    * [[TextAnalysis.qualityBlock]]/[[TextAnalysis.logprobBlock]] — no
    * data pass to size a grid, and whole-source window partitions
    * (parallelism capped at |sources|) never appear. EXACTLY TWO heavy
    * passes: pass 1 aggregates the (source, qblk, lblk) margin table
    * (≤ [[TextAnalysis.RankBlocks]]² rows/source), over which two tiny
    * range-frame windows attach BOTH block offsets to every margin row
    * (offset(qblk) = Σ counts of strictly-lower qblk, any lblk — one
    * frame, consumed once, no re-execution of the scoring lineage);
    * pass 2 joins the margin back on (source, qblk, lblk) and takes
    * within-block ranks in windows whose partition count scales with
    * data. rank = offset + within-block rank is EXACTLY the
    * whole-source rank (ties share a block, lower blocks are strictly
    * smaller). The tie-count window partitions by (source, value) —
    * cardinality scales with distinct values. One tiny per-source
    * aggregate closes. Σa² ≤ 4n³ holds in decimal(38,0) to n ≈ 10¹¹
    * docs per source.
    * Output: (source, n, spearman), sorted.
    */
  def signalCorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
    val lp = logProb(spark, dir).select(col("doc_id"), col("logprob"))
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    val withBlk = q.join(lp, "doc_id").join(src, "doc_id")
      .withColumn("qblk", TextAnalysis.qualityBlock(col("quality")))
      .withColumn("lblk", TextAnalysis.logprobBlock(col("logprob")))
    val wq = Window.partitionBy("source").orderBy("qblk")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wl = Window.partitionBy("source").orderBy("lblk")
      .rangeBetween(Window.unboundedPreceding, -1)
    val offs = withBlk.groupBy("source", "qblk", "lblk")
      .agg(count(lit(1)).as("c"))
      .select(col("source"), col("qblk"), col("lblk"),
        coalesce(sum("c").over(wq), lit(0L)).as("qoff"),
        coalesce(sum("c").over(wl), lit(0L)).as("loff"))
    def rank2(v: String, blkCol: String, offName: String): Column =
      ((col(offName) +
        rank().over(Window.partitionBy("source", blkCol).orderBy(v))) * 2 +
        count(lit(1)).over(Window.partitionBy(col("source"), col(v))) - 1)
        .cast("decimal(19,0)")
    val joined = withBlk
      .join(offs, Seq("source", "qblk", "lblk"))
      .select(col("source"), rank2("quality", "qblk", "qoff").as("a"),
        rank2("logprob", "lblk", "loff").as("b"))
    val agg = joined.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("a")).as("sa"), sum(col("b")).as("sb"),
      sum(col("a") * col("a")).as("saa"), sum(col("b") * col("b")).as("sbb"),
      sum(col("a") * col("b")).as("sab"))
    val nD = col("n").cast("double")
    def d(s: Column) = s.cast("double")
    val num = nD * d(col("sab")) - d(col("sa")) * d(col("sb"))
    val d1 = nD * d(col("saa")) - d(col("sa")) * d(col("sa"))
    val d2 = nD * d(col("sbb")) - d(col("sb")) * d(col("sb"))
    agg.select(col("source"), col("n"),
      when(d1 > 0d && d2 > 0d, num / (sqrt(d1) * sqrt(d2)))
        .as("spearman"))
      .orderBy("source")
  }

  val signalCorrSql: String =
    s"""WITH q AS (${TextAnalysis.qualityScoreSql}),
        lp AS ($logProbSql),
        j AS (SELECT d.source, q.quality, lp.logprob
          FROM q JOIN lp ON q.doc_id = lp.doc_id
          JOIN documents d ON q.doc_id = d.doc_id),
        rk AS (SELECT source,
            CAST(2 * rank() OVER (PARTITION BY source ORDER BY quality)
              + count(*) OVER (PARTITION BY source, quality) - 1
              AS DECIMAL(19,0)) AS a,
            CAST(2 * rank() OVER (PARTITION BY source ORDER BY logprob)
              + count(*) OVER (PARTITION BY source, logprob) - 1
              AS DECIMAL(19,0)) AS b
          FROM j),
        s AS (SELECT source, count(*) AS n,
            sum(a) AS sa, sum(b) AS sb,
            sum(a*a) AS saa, sum(b*b) AS sbb, sum(a*b) AS sab
          FROM rk GROUP BY source)
        SELECT source, n,
          CASE WHEN
              CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
            AND CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
          THEN (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
          END AS spearman
        FROM s ORDER BY source"""

  // --------------------------------------------------------- snapshot diff

  /** Hash modulus carving the release-over-release slices out of the
    * corpus: residue 0 = "added in the new snapshot", 1 = "removed",
    * 2 = "content changed" (~1/12 of the corpus each).
    */
  val DiffMod = 12

  /** Core diff operator: OLD vs NEW corpus snapshots, each a (doc_id,
    * source, digest) frame, classified per doc_id by a FULL OUTER join —
    * added (no old row), removed (no new row), changed (both, digests
    * differ), unchanged — and folded to per-source counts. Only 16-byte
    * digests and the source string cross the exchange, never text; both
    * sides shuffle once on doc_id, or zero times when the snapshots are
    * stored with [[graft.relational.Relational]]'s bucketed-table layout
    * (same key). This is the release audit run between two crawl
    * versions before retraining — "how much of each source actually
    * moved".
    */
  def snapshotDiffCounts(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), col("source").as("o_source"),
      col("digest").as("o_digest"))
    val n = newSnap.select(col("doc_id"), col("source").as("n_source"),
      col("digest").as("n_digest"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(coalesce(col("n_source"), col("o_source")).as("source"),
        col("o_digest"), col("n_digest"))
      .groupBy("source")
      .agg(
        sum(when(col("o_digest").isNotNull, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("n_digest").isNotNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("o_digest").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("n_digest").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("o_digest").isNotNull && col("n_digest").isNotNull
          && col("o_digest") =!= col("n_digest"), 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("o_digest") === col("n_digest"), 1L).otherwise(0L))
          .as("n_unchanged"))
      .orderBy("source")
  }

  /** Declared diff query: both snapshots derive deterministically from
    * the one documents table via h48("diff-"‖doc_id) mod [[DiffMod]] —
    * residue 0 missing from OLD (an addition), residue 1 missing from
    * NEW (a removal), residue 2 rewritten in NEW (a content change, the
    * digest moves) — so the fixture exists at every SF and the oracle
    * replays the identical carving. All-integer output.
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("source"),
      coalesce(col("text"), lit("")).as("t"),
      (Hashing.h48(concat(lit("diff-"), col("doc_id"))) % DiffMod).as("r"))
    val oldSnap = d.where(col("r") =!= 0)
      .select(col("doc_id"), col("source"), unhex(md5(col("t"))).as("digest"))
    val newSnap = d.where(col("r") =!= 1)
      .select(col("doc_id"), col("source"),
        unhex(md5(when(col("r") === 2, concat(col("t"), lit(" [rev2]")))
          .otherwise(col("t")))).as("digest"))
    snapshotDiffCounts(oldSnap, newSnap)
  }

  val corpusDiffSql: String =
    s"""WITH d AS (SELECT doc_id, source, coalesce(text, '') AS t,
            ${duckH48("concat('diff-', doc_id)")} % $DiffMod AS r
          FROM documents),
        o AS (SELECT doc_id, source, md5(t) AS digest FROM d WHERE r <> 0),
        n AS (SELECT doc_id, source,
            md5(CASE WHEN r = 2 THEN t || ' [rev2]' ELSE t END) AS digest
          FROM d WHERE r <> 1),
        j AS (SELECT coalesce(n.source, o.source) AS source,
            o.digest AS od, n.digest AS nd
          FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        SELECT source,
          CAST(sum(CASE WHEN od IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_old,
          CAST(sum(CASE WHEN nd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_new,
          CAST(sum(CASE WHEN od IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_added,
          CAST(sum(CASE WHEN nd IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_removed,
          CAST(sum(CASE WHEN od IS NOT NULL AND nd IS NOT NULL
            AND od <> nd THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
          CAST(sum(CASE WHEN od = nd THEN 1 ELSE 0 END) AS BIGINT)
            AS n_unchanged
        FROM j GROUP BY source ORDER BY source"""

  // ---------------------------------------------------------- token budget

  /** Budget fraction kept per source: numerator/denominator of an exact
    * rational (40%), applied in integer arithmetic — no float ever
    * touches the budget boundary.
    */
  val BudgetNum = 2L
  val BudgetDen = 5L

  /** Data selection under a token budget — the step that turns "we can
    * only train on 40% of each source's tokens" into a concrete keep
    * set: docs ranked per source by quality (ties by doc_id), kept
    * greedily while the running token sum stays within
    * source_tokens·[[BudgetNum]]/[[BudgetDen]] (integer div — exact).
    * Output is the full decision table (doc_id, source, n_tok, quality,
    * cum_tok, budget, kept): "write the budgeted corpus" is one
    * `where(kept)`, and the cum_tok column is the audit trail showing
    * WHY each doc fell in or out.
    *
    * Scale: one fused scan computes n_tok and quality together (the
    * [[corpusClean]] fusion argument); per-source totals are a tiny
    * aggregate broadcast back; and the greedy prefix sum is BLOCK
    * DECOMPOSED (lesson 23, the [[TextAnalysis.qualityCalibrated]]
    * shape) rather than one running-sum window per source: per-(source,
    * quality-block) token masses aggregate first (≤ RankBlocks rows per
    * source), each block's offset = the token mass of all HIGHER blocks
    * (a windowed sum over the tiny block table), and the within-block
    * running sum runs in (source, blk)-partitioned windows whose
    * partition count scales with data. cum_tok = offset + within-block
    * prefix — row-for-row identical to the single-window form (the
    * block map is monotone in quality), so the oracle keeps its one
    * whole-partition window.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), TextAnalysis.toks(col("text")).as("t"))
      .where(size(col("t")) > 0)
      .select(col("doc_id"), col("source"),
        size(col("t")).cast("long").as("n_tok"),
        TextAnalysis.qualityExpr.as("quality"))
    val budgets = d.groupBy("source").agg(sum("n_tok").as("src_tok"))
      .select(col("source"),
        expr(s"src_tok * $BudgetNum div $BudgetDen").as("budget"))
    val b = d.withColumn("blk", TextAnalysis.qualityBlock(col("quality")))
    // off(source, blk) = token mass of strictly HIGHER-quality blocks =
    // source total − inclusive ascending running mass; exact longs
    val ascIncl = Window.partitionBy("source").orderBy("blk")
      .rangeBetween(Window.unboundedPreceding, 0)
    val offsets = b.groupBy("source", "blk").agg(sum("n_tok").as("m"))
      .select(col("source"), col("blk"),
        (sum("m").over(Window.partitionBy("source")) -
          sum("m").over(ascIncl)).as("off"))
    val within = Window.partitionBy("source", "blk")
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(offsets, Seq("source", "blk"))
      .join(broadcast(budgets), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("quality"),
        (col("off") + sum("n_tok").over(within)).as("cum_tok"),
        col("budget"))
      .withColumn("kept", col("cum_tok") <= col("budget"))
      .orderBy("doc_id")
  }

  val tokenBudgetSql: String =
    s"""WITH q AS (SELECT doc_id, quality
          FROM (${TextAnalysis.qualityScoreSql}) t),
        d0 AS (SELECT doc_id, source,
            CAST(len($duckToks) AS BIGINT) AS n_tok
          FROM documents),
        d AS (SELECT d0.doc_id, d0.source, d0.n_tok, q.quality
          FROM d0 JOIN q ON d0.doc_id = q.doc_id),
        b AS (SELECT source,
            CAST(CAST(sum(n_tok) AS BIGINT) * $BudgetNum // $BudgetDen
              AS BIGINT) AS budget
          FROM d GROUP BY source),
        r AS (SELECT d.doc_id, d.source, d.n_tok, d.quality,
            CAST(sum(d.n_tok) OVER (PARTITION BY d.source
              ORDER BY d.quality DESC, d.doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum_tok,
            b.budget
          FROM d JOIN b ON d.source = b.source)
        SELECT doc_id, source, n_tok, quality, cum_tok, budget,
          cum_tok <= budget AS kept
        FROM r ORDER BY doc_id"""

  /** CDC storage-dedup audit — what content-defined chunking actually
    * buys: chunk every document ([[cdcChunks]]), keep the corpus-wide
    * FIRST instance of each chunk hash (ordered by doc_id, chunk_idx),
    * and report per source how many chunk instances / tokens the dedup
    * store would NOT have to keep again. This is the chunk-level twin of
    * [[graft.dedup.Dedup]]'s document-level operators — it catches
    * shifted/partial duplication that whole-doc digests miss, at
    * sub-document granularity paragraph dedup can't reach.
    *
    * Scale: the first-instance decision is one window over chunk_hash
    * (8-byte shuffle key; group size = instances of one chunk, bounded
    * by true duplication); the per-source rollup is a second narrow agg.
    * Output: (source, n_chunks, n_dup_chunks, chunk_tokens, dup_tokens,
    * dup_ppm).
    */
  def cdcDedupAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    cdcChunks(spark, dir)
      .withColumn("inst", row_number().over(w))
      .join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("inst") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("n_tok")).as("chunk_tokens"),
        sum(when(col("inst") > 1, col("n_tok")).otherwise(0L)).as("dup_tokens"))
      .select(col("source"), col("n_chunks"), col("n_dup_chunks"),
        col("chunk_tokens"), col("dup_tokens"),
        when(col("chunk_tokens") > 0,
          expr("dup_tokens * 1000000 div chunk_tokens")).as("dup_ppm"))
      .orderBy("source")
  }

  lazy val cdcDedupAuditSql: String =
    s"""WITH ch AS ($cdcChunksSql),
        inst AS (SELECT doc_id, chunk_idx, n_tok, chunk_hash,
            row_number() OVER (PARTITION BY chunk_hash
              ORDER BY doc_id, chunk_idx) AS inst
          FROM ch)
        SELECT d.source,
          count(*) AS n_chunks,
          CAST(sum(CASE WHEN inst.inst > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dup_chunks,
          CAST(sum(inst.n_tok) AS BIGINT) AS chunk_tokens,
          CAST(sum(CASE WHEN inst.inst > 1 THEN inst.n_tok ELSE 0 END)
            AS BIGINT) AS dup_tokens,
          CAST(CASE WHEN sum(inst.n_tok) > 0
            THEN sum(CASE WHEN inst.inst > 1 THEN inst.n_tok ELSE 0 END)
              * 1000000 // sum(inst.n_tok) END AS BIGINT) AS dup_ppm
        FROM inst JOIN documents d ON inst.doc_id = d.doc_id
        GROUP BY d.source ORDER BY d.source"""

  // --------------------------------------------------------------- raking

  /** IPF rounds — enough to show marginal convergence on the fixtures;
    * production runs until a marginal-gap tolerance instead.
    */
  val RakeRounds = 3

  /** Corpus mixture raking — iterative proportional fitting (IPF /
    * Sinkhorn) of the (source × lang) token-mass matrix toward a
    * LANG-UNIFORM target under the corpus's OWN per-source budgets: each
    * round scales every cell so lang rows sum to total/L, then rescales
    * so source columns sum back to their original masses. The answer to
    * "rebalance my languages without buying more data from any source" —
    * the multiplier table a weighted sampler ([[corpusMix]] /
    * `sampleStratified`) then consumes. Neither marginal is exactly
    * reachable (that is WHY it iterates); [[RakeRounds]] rounds of
    * alternating projection is the standard practice.
    *
    * ALL-INTEGER arithmetic: cells stay BIGINT token masses; each
    * scaling is one `m · target div marginal` truncating division —
    * order-independent sums, no float drift, both engines truncate ⇒
    * engine-exact (the decimal-anchor discipline, taken to integers).
    * Magnitudes: m ≤ corpus tokens (≤ 2^40 at 100 TB) times a target
    * ≤ 2^40 would overflow BIGINT, so the products run WIDENED —
    * decimal(38,0) here, HUGEINT in the oracle (both exact to 10^38,
    * comfortably past any corpus) — and only the truncated quotient
    * returns to BIGINT; no silent wraparound at any scale.
    *
    * Scale: ONE corpus-wide aggregate builds the matrix; the rounds run
    * over |sources|·|langs| cells — broadcast-sized forever after. Output:
    * (source, lang, n_tokens, m_rake, w_ppm = rake multiplier in ppm).
    */
  def corpusRake(spark: SparkSession, dir: String): DataFrame = {
    val cells = docs(spark, dir)
      .groupBy("source", "lang")
      .agg(sum(size(toks(col("text"))).cast("long")).as("m0"))
    val scalars = broadcast(cells.agg(
      expr("sum(m0) div count(DISTINCT lang)").as("tl")))
    val srcTargets = cells.groupBy("source").agg(sum("m0").as("cs0"))
    val after = (1 to RakeRounds).foldLeft(cells.withColumn("m", col("m0"))) {
      (d, _) =>
        val rowScaled = d
          .withColumn("rs", sum("m").over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")))
          .crossJoin(scalars)
          .withColumn("m",
            when(col("rs") > 0,
              expr("cast(m as decimal(38,0)) * tl div rs"))
              .otherwise(col("m")))
          .drop("rs", "tl")
        rowScaled
          .withColumn("ss", sum("m").over(
            org.apache.spark.sql.expressions.Window.partitionBy("source")))
          .join(srcTargets, "source")
          .withColumn("m",
            when(col("ss") > 0,
              expr("cast(m as decimal(38,0)) * cs0 div ss"))
              .otherwise(col("m")))
          .drop("ss", "cs0")
    }
    after.select(col("source"), col("lang"), col("m0").as("n_tokens"),
        col("m").as("m_rake"),
        when(col("m0") > 0,
          expr("cast(m as decimal(38,0)) * 1000000 div m0")).as("w_ppm"))
      .orderBy("source", "lang")
  }

  val corpusRakeSql: String = {
    def round(i: Int, prev: String): String =
      s"""ra$i AS (SELECT c.source, c.lang, c.m0,
            CAST(CASE WHEN rs.rs > 0 THEN CAST(c.m AS HUGEINT) * t.tl // rs.rs
                 ELSE c.m END AS BIGINT) AS m
          FROM $prev c
          JOIN (SELECT lang, sum(m) AS rs FROM $prev GROUP BY lang) rs
            ON c.lang = rs.lang, t),
        rb$i AS (SELECT c.source, c.lang, c.m0,
            CAST(CASE WHEN ss.ss > 0 THEN CAST(c.m AS HUGEINT) * s0.cs0 // ss.ss
                 ELSE c.m END AS BIGINT) AS m
          FROM ra$i c
          JOIN (SELECT source, sum(m) AS ss FROM ra$i GROUP BY source) ss
            ON c.source = ss.source
          JOIN s0 ON c.source = s0.source)"""
    val rounds = (1 to RakeRounds)
      .map(i => round(i, if (i == 1) "c1" else s"rb${i - 1}")).mkString(",\n")
    s"""WITH c0 AS (SELECT source, lang,
            CAST(sum(len($duckToks)) AS BIGINT) AS m0
          FROM documents GROUP BY source, lang),
        c1 AS (SELECT source, lang, m0, m0 AS m FROM c0),
        t AS (SELECT CAST(sum(m0) // count(DISTINCT lang) AS BIGINT) AS tl
              FROM c0),
        s0 AS (SELECT source, CAST(sum(m0) AS BIGINT) AS cs0
               FROM c0 GROUP BY source),
        $rounds
        SELECT source, lang, m0 AS n_tokens, m AS m_rake,
          CAST(CASE WHEN m0 > 0 THEN CAST(m AS HUGEINT) * 1000000 // m0
            END AS BIGINT) AS w_ppm
        FROM rb$RakeRounds ORDER BY source, lang"""
  }

  // ------------------------------------------------------ preference pairs

  /** Preference-pair construction — within every (source, lang) stratum,
    * pair the HIGHEST-quality document (chosen) with the LOWEST
    * (rejected), margin attached: the DPO/RLHF-reward-data shape (a
    * preference pair needs two comparable completions from the SAME
    * distribution — cross-source pairs teach source ID, not quality, so
    * the stratum IS the prompt surrogate). Quality quantizes to integer
    * ppm (same double arithmetic both engines ⇒ floor engine-exact);
    * ties break deterministically toward the larger doc_id for chosen
    * and the smaller for rejected (the struct-max/min convention), and
    * zero-margin strata drop — a pair that cannot teach a gradient is
    * not emitted. Strata count only docs the scorer scores (non-empty
    * token arrays), mirroring [[TextAnalysis.qualityScore]]'s domain.
    *
    * Scale: ONE groupBy over ~|sources|·|langs| keys where each extreme
    * is a `max(struct(q, id))` — partial-aggregated map-side, no window,
    * no sort, the whole corpus reduced in a single 16-byte-key exchange.
    * (The oracle takes the same extremes via per-stratum row_number —
    * fine at oracle scale, windows-over-strata at 100 TB is exactly
    * what the aggregate form avoids.) Output: (source, lang, n_docs,
    * chosen_id, rejected_id, chosen_ppm, rejected_ppm, margin_ppm).
    */
  def prefPairs(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"),
        floor(col("quality") * 1000000).cast("long").as("q_ppm"))
    val d = docs(spark, dir).select(col("doc_id"), col("source"), col("lang"))
    d.join(q, "doc_id")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("q_ppm"), col("doc_id"))).as("best"),
        min(struct(col("q_ppm"), col("doc_id"))).as("worst"))
      .where(col("n_docs") >= 2)
      .select(col("source"), col("lang"), col("n_docs"),
        col("best.doc_id").as("chosen_id"),
        col("worst.doc_id").as("rejected_id"),
        col("best.q_ppm").as("chosen_ppm"),
        col("worst.q_ppm").as("rejected_ppm"),
        (col("best.q_ppm") - col("worst.q_ppm")).as("margin_ppm"))
      .where(col("margin_ppm") > 0)
      .orderBy("source", "lang")
  }

  val prefPairsSql: String =
    s"""WITH q AS (${TextAnalysis.qualityScoreSql}),
        j AS (SELECT d.source, d.lang, q.doc_id,
                CAST(floor(q.quality * 1000000) AS BIGINT) AS q_ppm
              FROM q JOIN documents d ON q.doc_id = d.doc_id),
        r AS (SELECT *,
                row_number() OVER (PARTITION BY source, lang
                  ORDER BY q_ppm DESC, doc_id DESC) AS rb,
                row_number() OVER (PARTITION BY source, lang
                  ORDER BY q_ppm ASC, doc_id ASC) AS rw,
                count(*) OVER (PARTITION BY source, lang) AS n_docs
              FROM j)
        SELECT b.source, b.lang, CAST(b.n_docs AS BIGINT) AS n_docs,
          b.doc_id AS chosen_id, w.doc_id AS rejected_id,
          b.q_ppm AS chosen_ppm, w.q_ppm AS rejected_ppm,
          b.q_ppm - w.q_ppm AS margin_ppm
        FROM r b JOIN r w
          ON b.source = w.source AND b.lang = w.lang
          AND b.rb = 1 AND w.rw = 1
        WHERE b.n_docs >= 2 AND b.q_ppm - w.q_ppm > 0
        ORDER BY b.source, b.lang"""

  // --------------------------------------------------- temperature mixture

  /** Temperature exponent for [[langTemperature]] — α = 0.3, the
    * mC4/XLM-R convention (α = 1 is proportional sampling that drowns
    * low-resource languages; α = 0 is uniform; 0.3 is the published
    * compromise that upsamples the tail without flattening the head).
    */
  val TempAlpha = 0.3

  /** Temperature-scaled multilingual sampling weights — the standard
    * multilingual-pretraining mixture: per-language natural token share
    * p_l, raw weight p_l^α, renormalized to a sampling distribution.
    * [[corpusMix]] balances SOURCES under explicit targets; this derives
    * the LANGUAGE targets themselves from the corpus, the way mC4/XLM-R
    * set theirs. The power is the module's one transcendental beyond
    * ln/log2 and gets the same treatment (JVM pow vs libm may differ in
    * the last ulp): round to 10 decimals on both engines BEFORE any
    * downstream arithmetic, then the normalized weight rounds again and
    * quantizes to ppm by floor — every divergence point pinned.
    *
    * Scale: ONE corpus aggregate to |langs| cells, then broadcast-sized
    * arithmetic (the total and the raw-weight sum are one-row frames
    * crossed onto the tiny lang table — the established scalar shape).
    * share_ppm stays ALL-INTEGER (m·10⁶ div M); only the α-power runs
    * in doubles. Output: (lang, n_tokens, share_ppm, w_ppm) ordered by
    * lang; Σ w_ppm ≈ 10⁶ (floor truncation, documented not hidden).
    */
  def langTemperature(spark: SparkSession, dir: String): DataFrame = {
    val cells = docs(spark, dir)
      .groupBy("lang")
      .agg(sum(size(toks(col("text"))).cast("long")).as("m"))
    val total = cells.agg(sum("m").as("tot"))
    val raw = cells.crossJoin(broadcast(total))
      .withColumn("p", col("m").cast("double") / col("tot").cast("double"))
      .withColumn("r", round(pow(col("p"), lit(TempAlpha)), 10))
    val sumRaw = raw.agg(sum("r").as("sr"))
    raw.crossJoin(broadcast(sumRaw))
      .select(col("lang"), col("m").as("n_tokens"),
        expr("m * 1000000 div tot").as("share_ppm"),
        floor(round(col("r") / col("sr"), 10) * 1000000)
          .cast("long").as("w_ppm"))
      .orderBy("lang")
  }

  val langTemperatureSql: String =
    s"""WITH c AS (SELECT lang, CAST(sum(len($duckToks)) AS BIGINT) AS m
               FROM documents GROUP BY lang),
        t AS (SELECT CAST(sum(m) AS BIGINT) AS tot FROM c),
        r AS (SELECT lang, m,
                round(pow(CAST(m AS DOUBLE) / CAST(tot AS DOUBLE),
                  $TempAlpha), 10) AS r,
                tot
              FROM c, t),
        s AS (SELECT sum(r) AS sr FROM r)
        SELECT lang, m AS n_tokens,
          CAST(m * 1000000 // tot AS BIGINT) AS share_ppm,
          CAST(floor(round(r / sr, 10) * 1000000) AS BIGINT) AS w_ppm
        FROM r, s ORDER BY lang"""
}
