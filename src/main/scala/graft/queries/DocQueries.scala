package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` and `embeddings`
  * tables (builder-prompt first-class components): tokenization, dedup,
  * quality scoring, language-ID, fingerprinting, similarity search. Everything
  * with a DuckDB-expressible equivalent gets an oracle; the LSH/minhash/simhash
  * families are covered by ScalaTest oracles instead (hash functions differ
  * across engines).
  */
object DocQueries {

  def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  val BaseTs = 1704067200L // 2024-01-01T00:00:00Z

  /** The north-rule token pipeline end-to-end over real data: tokenize text
    * (whitespace), derive deterministic event-time from doc_id, roll up token
    * counts into 1-minute tiers per source. SQL-expressible so the DuckDB
    * oracle checks the whole pipeline.
    */
  def tokenRollup1m(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("n_tok", size(split(col("text"), " ")))
      .withColumn("ts", lit(BaseTs) + pmod(col("doc_id"), lit(86400L)))
      .withColumn("bucket", (floor(col("ts") / 60) * 60).cast("long"))
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tok")).cast("long").as("sum_tok"), count(lit(1)).as("cnt"),
        min(col("n_tok")).cast("long").as("min_tok"), max(col("n_tok")).cast("long").as("max_tok"))
      .orderBy(col("source"), col("bucket"))

  /** Exact dedup by content hash (hash-groupBy; builder-prompt dedup #1).
    * Keeper = lowest doc_id per group; groups and sizes are the output.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("dup_cnt"), min(col("doc_id")).as("keeper_doc_id"))
      .orderBy(col("content_hash"))

  /** Quality scoring: per-source aggregate of length / word-shape signals. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val words = size(split(col("text"), " "))
    val theCnt = ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3)
      .cast("long")
    documents(s, dir)
      .select(col("source"), col("n_chars"), words.as("words"), theCnt.as("the_cnt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        round(avg(col("words")), 4).as("avg_words"),
        round(avg(col("n_chars").cast("double") / col("words")), 4).as("avg_word_len"),
        sum(col("the_cnt")).as("stopword_hits"))
      .orderBy(col("source"))
  }

  /** Stopword profiles for the language-ID classifier — high-frequency
    * function words per language (public-knowledge lists; profile order is
    * the deterministic tie-break priority). The classifier scores each
    * language by whole-word stopword hits and predicts the argmax ('other'
    * when no profile hits) — the classic n-gram/stopword-profile heuristic,
    * fully deterministic so the DuckDB oracle replays the identical rule.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "ist", "nicht", "das"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "los", "las", "una", "es", "y"),
    "it" -> Seq("il", "che", "di", "per", "non", "sono"),
    "pt" -> Seq("os", "uma", "do", "da", "em", "com"),
    "nl" -> Seq("het", "een", "van", "niet", "op", "ik"),
    "zh" -> Seq("的", "是", "不", "了", "在", "和"))

  /** Language-ID (stopword-profile argmax over [[langProfiles]]): confusion
    * matrix vs the table's lang column. The 48 whole-word probes run in one
    * tight JVM UDF loop over the padded text: the equivalent Catalyst
    * expression tree (48 `contains` + greatest + a nested-when argmax) paid
    * a measured ~2.5 s of fixed janino-compile cost PER PLAN regardless of
    * data size — the same compile-vs-run trade as the MinHash signature
    * loop (Dedup.scala). No shuffle beyond the final tiny groupBy.
    */
  private lazy val langIdUdf = {
    val profiles = langProfiles.map { case (l, ws) =>
      (l, ws.map(w => s" $w ").toArray) }.toArray
    udf { (text: String) =>
      if (text == null) "other"
      else {
        val padded = " " + text + " "
        var best = "other"; var bestScore = 0; var i = 0
        while (i < profiles.length) {
          val (l, ws) = profiles(i)
          var sc = 0; var j = 0
          while (j < ws.length) { if (padded.contains(ws(j))) sc += 1; j += 1 }
          // strict >: the FIRST profile in list order reaching the max wins,
          // and a zero score never displaces 'other' — identical to the
          // generated oracle's CASE order
          if (sc > bestScore) { bestScore = sc; best = l }
          i += 1
        }
        best
      }
    }
  }

  def langId(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("predicted", langIdUdf(col("text")))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("lang"), col("predicted"))

  /** Per-doc predicted-language oracle fragment: CTEs ending in
    * `pred(doc_id, lang, source, text, predicted)`, reading from a caller-
    * defined CTE named `docs`. Shared by the q19 and q60 oracles — both are
    * generated from the same [[langProfiles]] table as the UDF, so the SQL
    * rule and the Scala rule cannot drift.
    */
  val langPredCtes: String = {
    val scoreExprs = langProfiles.map { case (l, ws) =>
      ws.map(w => s"contains(t, ' $w ')::INT").mkString(" + ") + s" AS s_$l"
    }.mkString(",\n  ")
    val mx = langProfiles.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = langProfiles.map { case (l, _) => s"WHEN s_$l = mx THEN '$l'" }.mkString(" ")
    s"""p AS (SELECT doc_id, lang, source, text, ' ' || text || ' ' AS t FROM docs),
       |s AS (SELECT doc_id, lang, source, text,
       |  $scoreExprs
       |FROM p),
       |m AS (SELECT *, $mx AS mx FROM s),
       |pred AS (SELECT doc_id, lang, source, text,
       |  CASE WHEN mx = 0 THEN 'other' $cases END AS predicted
       |FROM m)""".stripMargin
  }

  /** DuckDB twin of [[langId]], generated from the same profile table so the
    * two rules cannot drift.
    */
  val langIdOracle: String =
    s"""WITH docs AS (SELECT doc_id, lang, source, text FROM documents),
       |$langPredCtes
       |SELECT lang, predicted, count(*) AS cnt
       |FROM pred GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin

  /** Token counting: whitespace tokens and a regex word-ish tokenizer. */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("ws_tok"),
        size(regexp_extract_all(col("text"), lit("[a-zA-Z]+"), lit(0))).cast("long").as("re_tok"))
      .groupBy(col("source"))
      .agg(sum(col("ws_tok")).as("ws_tokens"), sum(col("re_tok")).as("re_tokens"),
        count(lit(1)).as("docs"))
      .orderBy(col("source"))

  /** Document fingerprinting: stable 64-bit content fingerprint (hex). */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("fp"))
      .orderBy(col("doc_id"))

  /** q55: ROLLING-hash fingerprinting by winnowing (graft.ops.Winnow —
    * SIGMOD'03): per doc, k-gram polynomial hashes (base 257 mod 1e9+7,
    * exact BIGINT math) → distinct window-of-16 minima. The DuckDB oracle
    * replays the identical arithmetic with list lambdas, so the whole
    * fingerprint pipeline — not just a summary — is cross-engine-pinned
    * (q21 stays the whole-content-hash mode).
    */
  def winnowFingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), graft.ops.Winnow.statsCol(col("text")).as("f"))
      .select(col("doc_id"), col("f.n_kgrams").as("n_kgrams"),
        col("f.n_fps").as("n_fps"), col("f.min_fp").as("min_fp"),
        col("f.fp_sum").as("fp_sum"))
      .orderBy(col("doc_id"))

  val winnowFingerprintOracle: String =
    """WITH g AS (SELECT doc_id,
      |  CASE WHEN length(text) >= 8 THEN
      |    list_transform(generate_series(1, length(text)-7), i ->
      |      list_reduce(list_transform(generate_series(0, 7),
      |          j -> unicode(substring(text, i+j, 1))::BIGINT),
      |        (h, c) -> (h*257 + c) % 1000000007))
      |  ELSE [] END AS hs FROM documents),
      |w AS (SELECT doc_id, len(hs)::BIGINT AS n_kgrams,
      |  CASE WHEN len(hs) = 0 THEN []
      |  ELSE list_distinct(list_transform(generate_series(1, greatest(len(hs)-15, 1)), i ->
      |    list_min(hs[i:least(i+15, len(hs))]))) END AS fps FROM g)
      |SELECT doc_id, n_kgrams, len(fps)::BIGINT AS n_fps,
      |  CASE WHEN len(fps) = 0 THEN NULL ELSE list_min(fps) END AS min_fp,
      |  CASE WHEN len(fps) = 0 THEN NULL ELSE list_sum(fps)::BIGINT END AS fp_sum
      |FROM w ORDER BY doc_id""".stripMargin

  /** q60: the corpus-curation pipeline composed end-to-end — the frame a
    * training-data build actually ships: exact dedup (md5 keeper), language
    * gate (stopword-profile argmax ≠ 'other'), length gate (20..80 whitespace
    * words), reported as per-(source, drop-reason) doc and token counts. The
    * first failing rule in the fixed order dup → lang → len names the reason;
    * survivors are 'kept'. A deterministic clone of every 10th doc
    * (doc_id + 10⁷, identical text — the q52 planting pattern) is unioned in
    * so the dup branch provably fires on a table with no natural exact dups.
    * Each stage is the repo's existing operator shape (q17's hash-groupBy,
    * q19's language rule, q20's tokenizer); at 100 TB the only wide ops are
    * one hash shuffle for the keeper groupBy and its equi-join back — both
    * keyed on the content hash, both AQE-skew-safe.
    */
  def corpusCurate(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir)
    val clones = base.filter(pmod(col("doc_id"), lit(10)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    val d = base.unionByName(clones)
      .select(col("doc_id"), col("source"),
        langIdUdf(col("text")).as("predicted"),
        size(split(col("text"), " ")).cast("long").as("words"),
        md5(col("text")).as("h"))
    val keepers = d.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    d.join(keepers, "h")
      .withColumn("reason",
        when(col("doc_id") =!= col("keeper"), "dup")
          .when(col("predicted") === "other", "lang")
          .when(col("words") < 20 || col("words") > 80, "len")
          .otherwise("kept"))
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).as("n_docs"), sum(col("words")).as("sum_tokens"))
      .orderBy(col("source"), col("reason"))
  }

  /** DuckDB twin of [[corpusCurate]], sharing [[langPredCtes]]. */
  val corpusCurateOracle: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000000, lang, source, text FROM documents
       |  WHERE doc_id % 10 = 0),
       |$langPredCtes,
       |w AS (SELECT doc_id, source, predicted,
       |  len(string_split(text, ' '))::BIGINT AS words, md5(text) AS h FROM pred),
       |k AS (SELECT h, min(doc_id) AS keeper FROM w GROUP BY 1),
       |r AS (SELECT w.source, w.words,
       |  CASE WHEN w.doc_id <> k.keeper THEN 'dup'
       |       WHEN w.predicted = 'other' THEN 'lang'
       |       WHEN w.words < 20 OR w.words > 80 THEN 'len'
       |       ELSE 'kept' END AS reason
       |  FROM w JOIN k USING (h))
       |SELECT source, reason, count(*) AS n_docs, sum(words)::BIGINT AS sum_tokens
       |FROM r GROUP BY 1, 2 ORDER BY source, reason""".stripMargin

  /** Brute-force cosine similarity of every embedding against the vec_id=0
    * query vector (similarity-search baseline). Double-precision math via
    * zip_with + aggregate; rounded for cross-engine hash parity.
    */
  def annCosineAll(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        aggregate(zip_with(col("embedding"), col("q_emb"),
          (a, b) => a.cast("double") * b.cast("double")), lit(0.0), (acc, x) => acc + x).as("dot"),
        sqrt(aggregate(transform(col("embedding"), a => a.cast("double") * a.cast("double")),
          lit(0.0), (acc, x) => acc + x)).as("na"),
        sqrt(aggregate(transform(col("q_emb"), a => a.cast("double") * a.cast("double")),
          lit(0.0), (acc, x) => acc + x)).as("nq"))
      .select(col("vec_id"), col("label"),
        round(col("dot") / (col("na") * col("nq")), 5).as("cosine"))
      .orderBy(col("vec_id"))
  }

  /** q64: sequence-packing census — documents laid end-to-end per source in
    * doc_id order and chunked into 1000-token training sequences
    * ([[graft.ops.Pack.packCensus]]'s two-phase distributed prefix sum; no
    * per-source window task). Output per (source, seq_id): docs touching the
    * sequence, tokens landing in it, docs carried across its left boundary.
    */
  def packCensusDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    graft.ops.Pack.packCensus(docs, "source", "doc_id", "n_tok", budget = 1000L)
      .select(col("source"), col("seq_id"), col("n_docs"),
        col("n_tok").as("seq_tok"), col("n_carried"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** DuckDB twin of [[packCensusDocs]]: window-function exclusive prefix sum
    * + generate_series explode — engine-independent of the bucketed layout.
    */
  val packCensusOracle: String =
    """WITH d AS (
      |  SELECT source, doc_id, len(string_split(text, ' '))::BIGINT AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT source, n_tok,
      |    COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS ex_cum
      |  FROM d),
      |e AS (
      |  SELECT source, ex_cum, n_tok,
      |    unnest(range(ex_cum // 1000, (ex_cum + n_tok - 1) // 1000 + 1)) AS seq_id
      |  FROM c WHERE n_tok > 0)
      |SELECT source, seq_id, count(*) AS n_docs,
      |  sum(least(ex_cum + n_tok, (seq_id + 1) * 1000)
      |      - greatest(ex_cum, seq_id * 1000))::BIGINT AS seq_tok,
      |  sum(CASE WHEN ex_cum < seq_id * 1000 THEN 1 ELSE 0 END)::BIGINT AS n_carried
      |FROM e GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin

  /** q65: PII redaction — emails and IPv4s replaced by placeholder tokens
    * (narrow per-row regex work; the only wide op is the per-source census).
    * Synthetic text carries no natural PII, so a deterministic email+IP is
    * planted per doc (same expression on both engines) to prove the
    * redactors fire; the checksum is a 32-bit md5 prefix sum over the
    * redacted text, order-insensitive and engine-agnostic.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
    val planted = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com via 10."), pmod(col("doc_id"), lit(256L)), lit(".0.1"))
    val redacted = regexp_replace(regexp_replace(planted, emailRe, "<EMAIL>"),
      ipRe, "<IP>")
    documents(s, dir)
      .select(col("source"),
        size(regexp_extract_all(planted, lit(emailRe), lit(0))).cast("long").as("em"),
        size(regexp_extract_all(planted, lit(ipRe), lit(0))).cast("long").as("ip"),
        conv(substring(md5(redacted), 1, 8), 16, 10).cast("long").as("ck"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("em")).as("emails"),
        sum(col("ip")).as("ips"), sum(col("ck")).as("checksum"))
      .orderBy(col("source"))
  }

  /** DuckDB twin of [[piiRedact]] (regexp_replace needs the 'g' flag; Spark
    * replaces all matches by default).
    */
  val piiRedactOracle: String =
    """WITH p AS (
      |  SELECT source,
      |    text || ' contact user' || doc_id::VARCHAR || '@example.com via 10.'
      |         || (doc_id % 256)::VARCHAR || '.0.1' AS t
      |  FROM documents),
      |r AS (
      |  SELECT source,
      |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS em,
      |    len(regexp_extract_all(t, '\b\d{1,3}(\.\d{1,3}){3}\b'))::BIGINT AS ip,
      |    ('0x' || substr(md5(regexp_replace(regexp_replace(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g')), 1, 8))::BIGINT AS ck
      |  FROM p)
      |SELECT source, count(*) AS n_docs, sum(em)::BIGINT AS emails,
      |  sum(ip)::BIGINT AS ips, sum(ck)::BIGINT AS checksum
      |FROM r GROUP BY 1 ORDER BY source""".stripMargin

  /** q66: fixed-window document chunking with stride overlap (the RAG /
    * context-window split): windows of 30 whitespace tokens every 20. One
    * narrow explode per doc — chunk count rides the row, no shuffle until
    * the caller aggregates. Per-chunk md5 makes the oracle content-exact.
    */
  def docChunks(s: SparkSession, dir: String): DataFrame = {
    val win = 30
    val stride = 20
    documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("start",
        explode(sequence(lit(0), size(col("toks")) - 1, lit(stride))))
      .select(col("doc_id"), (col("start") / stride).cast("long").as("chunk_id"),
        slice(col("toks"), col("start") + 1, lit(win)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tok"),
        substring(md5(concat_ws(" ", col("chunk"))), 1, 16).as("h"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** DuckDB twin of [[docChunks]] — list slices are 1-based inclusive on
    * both engines and clamp at the end.
    */
  val docChunksOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |e AS (
      |  SELECT doc_id, toks, unnest(range(0, len(toks), 20)) AS start
      |  FROM d)
      |SELECT doc_id, start // 20 AS chunk_id,
      |  len(toks[start + 1 : start + 30])::BIGINT AS n_tok,
      |  substr(md5(array_to_string(toks[start + 1 : start + 30], ' ')), 1, 16) AS h
      |FROM e ORDER BY doc_id, chunk_id""".stripMargin

  /** q67: corpus mixing under a per-source token budget — docs ranked by a
    * deterministic hash (uniform "random" order both engines can compute:
    * 60-bit md5 prefix), kept while the source's running token count stays
    * under budget. The running count is [[graft.ops.Pack.groupedPrefixSum]]
    * — no per-source window task; doc_id breaks rank ties exactly as the
    * oracle's ORDER BY rnk, doc_id.
    */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val budget = 500L
    val d = documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        graft.ops.Pack.md5Rank60(col("doc_id").cast("string")).as("rnk"))
    graft.ops.Pack.groupedPrefixSum(d, "source", "rnk", "n_tok",
        tieCol = Some("doc_id"))
      .filter(col("ex_cum") < budget)
      .select(col("source"), col("doc_id"), col("n_tok"), col("ex_cum"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** DuckDB twin of [[corpusMix]]. */
  val corpusMixOracle: String =
    """WITH d AS (
      |  SELECT source, doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS rnk
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, n_tok,
      |    COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY rnk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS ex_cum
      |  FROM d)
      |SELECT source, doc_id, n_tok, ex_cum FROM c WHERE ex_cum < 500
      |ORDER BY source, doc_id""".stripMargin

  /** q68: MATERIALIZED sequence packing ([[graft.ops.Pack.packSequences]]) —
    * the actual packed token streams, not just the census: whitespace tokens
    * laid end-to-end per source in doc_id order, re-cut at 1000. The output
    * hashes each sequence's reassembled content, so the oracle is exact on
    * the token stream itself (boundary splits, straddle carries, ordering).
    */
  def packSequencesDocs(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("source"), col("doc_id"), split(col("text"), " ").as("toks"))
    graft.ops.Pack.packSequences(d, "source", "doc_id", "toks", budget = 1000L)
      .select(col("source"), col("seq_id"),
        size(col("tokens")).cast("long").as("n_tok"),
        substring(md5(concat_ws(" ", col("tokens"))), 1, 16).as("h"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** DuckDB twin of [[packSequencesDocs]] — window prefix sum, per-(doc,seq)
    * list slices, ordered string_agg reassembly.
    */
  val packSequencesOracle: String =
    """WITH d AS (
      |  SELECT source, doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (
      |  SELECT source, doc_id, toks, len(toks)::BIGINT AS n_tok,
      |    COALESCE(sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS ex_cum
      |  FROM d),
      |e AS (
      |  SELECT source, toks, n_tok, ex_cum,
      |    unnest(range(ex_cum // 1000, (ex_cum + n_tok - 1) // 1000 + 1)) AS seq_id
      |  FROM c WHERE n_tok > 0),
      |s AS (
      |  SELECT source, seq_id, ex_cum,
      |    array_to_string(toks[(greatest(0, seq_id * 1000 - ex_cum) + 1) :
      |      least(n_tok, (seq_id + 1) * 1000 - ex_cum)], ' ') AS part,
      |    least(n_tok, (seq_id + 1) * 1000 - ex_cum)
      |      - greatest(0, seq_id * 1000 - ex_cum) AS part_len
      |  FROM e)
      |SELECT source, seq_id, sum(part_len)::BIGINT AS n_tok,
      |  substr(md5(string_agg(part, ' ' ORDER BY ex_cum)), 1, 16) AS h
      |FROM s GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin

  /** q69: benchmark decontamination — flag training docs sharing any 8-gram
    * with a benchmark set. A real benchmark is FIXED-SIZE (a few thousand
    * eval documents regardless of corpus size), which is what licenses the
    * BROADCAST equi-join on the gram hash; the training side then streams
    * its grams through the join with no global distinct (the per-doc
    * distinct count happens on the matched subset only) — one narrow explode
    * + one broadcast join + one doc-keyed shuffle of matches at any corpus
    * scale. The test fixture plants the benchmark as a 20-token slice of
    * every 97th doc (a leaked split, so the overlap provably fires); that
    * %-of-corpus rule is fixture convenience on the fixed 500-doc table, not
    * the operator's contract — a corpus-proportional benchmark would need
    * the shuffled-join fallback instead of broadcast.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = decontamDocs(s, dir)
    trainingGrams(docs)
      .join(broadcast(benchGrams(docs)), "g")
      .groupBy(col("doc_id"), col("source"))
      .agg(countDistinct(col("g")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** q69/q78 input: (doc_id, source, toks) with whitespace tokens. */
  private def decontamDocs(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))

  /** The benchmark's distinct 8-gram md5s: a 20-token slice of every 97th doc. */
  private def benchGrams(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
      .select(slice(col("toks"), 6, 20).as("btoks"))
      .filter(size(col("btoks")) >= 8)
      .withColumn("i", explode(sequence(lit(1), size(col("btoks")) - 7)))
      .select(md5(concat_ws(" ", slice(col("btoks"), col("i"), lit(8)))).as("g"))
      .distinct()

  /** Every training doc's 8-gram md5s as (doc_id, source, g). */
  private def trainingGrams(docs: DataFrame): DataFrame =
    docs.filter(size(col("toks")) >= 8)
      .withColumn("i", explode(sequence(lit(1), size(col("toks")) - 7)))
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(col("toks"), col("i"), lit(8)))).as("g"))

  /** DuckDB twin of [[decontaminate]]. */
  val decontaminateOracle: String =
    """WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |bt AS (
      |  SELECT toks[6:25] AS btoks FROM t WHERE doc_id % 97 = 0),
      |bg AS (
      |  SELECT DISTINCT md5(array_to_string(btoks[i : i + 7], ' ')) AS g
      |  FROM (SELECT btoks, unnest(range(1, len(btoks) - 6)) AS i
      |        FROM bt WHERE len(btoks) >= 8)),
      |grams AS (
      |  SELECT doc_id, source, md5(array_to_string(toks[i : i + 7], ' ')) AS g
      |  FROM (SELECT doc_id, source, toks, unnest(range(1, len(toks) - 6)) AS i
      |        FROM t WHERE len(toks) >= 8))
      |SELECT g.doc_id, g.source, count(DISTINCT g.g)::BIGINT AS n_shared
      |FROM grams g JOIN bg USING (g)
      |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  /** q70: vocabulary mining — top-5 bigrams per source by count (the
    * tokenizer/vocab-build census). The rank window runs over the ALREADY
    * AGGREGATED (source, gram, cnt) frame — vocab-sized, not corpus-sized —
    * with a deterministic (cnt desc, gram) tie-break.
    */
  def vocabTopK(s: SparkSession, dir: String): DataFrame = {
    val counted = documents(s, dir)
      .select(col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .withColumn("i", explode(sequence(lit(1), size(col("toks")) - 1)))
      .select(col("source"),
        concat_ws(" ", slice(col("toks"), col("i"), lit(2))).as("gram"))
      .groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("cnt").desc, col("gram"))
    counted.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy(col("source"), col("rk"))
  }

  /** DuckDB twin of [[vocabTopK]]. */
  val vocabTopKOracle: String =
    """WITH g AS (
      |  SELECT source, array_to_string(toks[i : i + 1], ' ') AS gram
      |  FROM (SELECT source, toks, unnest(range(1, len(toks))) AS i
      |        FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)
      |        WHERE len(toks) >= 2)),
      |c AS (SELECT source, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
      |r AS (SELECT source, gram, cnt,
      |  row_number() OVER (PARTITION BY source ORDER BY cnt DESC, gram) AS rk
      |  FROM c)
      |SELECT source, gram, cnt, rk FROM r WHERE rk <= 5
      |ORDER BY source, rk""".stripMargin

  /** q71: repetition-degeneracy filter — distinct-3-gram ratio per doc flags
    * looping/degenerate text. Synthetic docs are repetition-free, so every
    * 13th doc is planted as text+text (ratio ≈ ½) and only those flag. The
    * per-doc distinct count is one explode + one doc-keyed aggregate — no
    * per-doc window, no driver loop.
    */
  def repetitionFilter(s: SparkSession, dir: String): DataFrame = {
    val planted = documents(s, dir)
      .withColumn("t",
        when(pmod(col("doc_id"), lit(13L)) === 0, concat_ws(" ", col("text"), col("text")))
          .otherwise(col("text")))
      .select(col("doc_id"), col("source"), split(col("t"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    planted
      .withColumn("i", explode(sequence(lit(1), size(col("toks")) - 2)))
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(col("toks"), col("i"), lit(3)))).as("g"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n3"), countDistinct(col("g")).as("d3"))
      .withColumn("r", round(col("d3").cast("double") / col("n3"), 4))
      .filter(col("r") < 0.9)
      .select(col("doc_id"), col("source"), col("n3"), col("d3"), col("r"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[repetitionFilter]]. */
  val repetitionFilterOracle: String =
    """WITH p AS (
      |  SELECT doc_id, source,
      |    string_split(CASE WHEN doc_id % 13 = 0 THEN text || ' ' || text
      |                      ELSE text END, ' ') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, md5(array_to_string(toks[i : i + 2], ' ')) AS g
      |  FROM (SELECT doc_id, source, toks, unnest(range(1, len(toks) - 1)) AS i
      |        FROM p WHERE len(toks) >= 3)),
      |a AS (
      |  SELECT doc_id, source, count(*)::BIGINT AS n3,
      |    count(DISTINCT g)::BIGINT AS d3
      |  FROM g GROUP BY 1, 2)
      |SELECT doc_id, source, n3, d3, round(d3 / n3, 4) AS r
      |FROM a WHERE round(d3 / n3, 4) < 0.9 ORDER BY doc_id""".stripMargin

  /** q72: epoch resampling (upsampling under mixing weights) — each source
    * gets a deterministic weight in {1.0, 1.75, 2.5, 3.25}; every doc repeats
    * floor(w) times plus one more when its 32-bit md5 fraction falls under
    * the fractional part (deterministic Bernoulli — both engines compute the
    * identical exact rationals). Pure narrow explode; the census is the only
    * shuffle.
    */
  def epochResample(s: SparkSession, dir: String): DataFrame = {
    val w = lit(1.0) +
      pmod(conv(substring(md5(col("source")), 1, 2), 16, 10).cast("long"), lit(4L))
        .cast("double") * lit(0.75)
    val frac = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val reps = (floor(w) + when(frac < w - floor(w), 1L).otherwise(0L)).cast("long")
    documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"), reps.as("reps"))
      .withColumn("epoch", explode(sequence(lit(1L), col("reps"))))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_rows"), sum(col("n_tok")).as("sum_tok"))
      .orderBy(col("source"))
  }

  /** DuckDB twin of [[epochResample]]. */
  val epochResampleOracle: String =
    """WITH d AS (
      |  SELECT source, doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
      |    1.0 + (('0x' || substr(md5(source), 1, 2))::BIGINT % 4) * 0.75 AS w,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS frac
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, n_tok,
      |    (floor(w) + CASE WHEN frac < w - floor(w) THEN 1 ELSE 0 END)::BIGINT AS reps
      |  FROM d),
      |e AS (SELECT source, doc_id, n_tok FROM r, unnest(range(1, reps + 1)))
      |SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs,
      |  count(*) AS n_rows, sum(n_tok)::BIGINT AS sum_tok
      |FROM e GROUP BY 1 ORDER BY source""".stripMargin

  /** q73: deterministic global training-order shuffle with a MATERIALIZED
    * position — the "shuffle the corpus before packing" step. Order key is
    * the 60-bit md5 of doc_id (doc_id tie-break); the 0-based global
    * position is [[graft.ops.Pack.groupedPrefixSum]] with one constant
    * group and value 1 — a distributed zipWithIndex whose parallelism is
    * the bucket count, where a row_number() over a global ORDER BY would
    * run in one task.
    */
  def trainShuffle(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), col("source"),
        graft.ops.Pack.md5Rank60(col("doc_id").cast("string")).as("rnk"))
      .withColumn("_g", lit(1)).withColumn("_one", lit(1L))
    graft.ops.Pack.groupedPrefixSum(d, "_g", "rnk", "_one",
        outCol = "pos", tieCol = Some("doc_id"))
      .select(col("doc_id"), col("source"), col("pos"))
      .orderBy(col("pos"))
  }

  /** DuckDB twin of [[trainShuffle]]. */
  val trainShuffleOracle: String =
    """SELECT doc_id, source,
      |  (row_number() OVER (
      |     ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
      |              doc_id) - 1)::BIGINT AS pos
      |FROM documents ORDER BY pos""".stripMargin

  /** q74: duplicated-span census — substring-level duplication (20-token
    * spans shared by ≥2 distinct docs), the span-dedup signal from the
    * training-data dedup literature (vs q17's whole-doc hash). Clones of
    * every 10th doc are planted (the q60 pattern) so cross-doc spans
    * provably exist. One gram explode + one hash-keyed census shuffle; the
    * output is the tiny sharing-degree distribution.
    */
  def dupSpans(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select(col("doc_id"), col("text"))
    val clones = base.filter(pmod(col("doc_id"), lit(10L)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    // Native one-pass 20-gram scan (SketchExprs.WordShingles) replaces the
    // explode(sequence)+slice+concat_ws chain (round 6). Result-identical:
    // every 20-gram is a byte span of the text (spec-pinned vs the HOF
    // chain), the kernel's per-doc distinctness is invariant under the
    // duplicate-insensitive groupBy(g)->countDistinct(doc_id) aggregate,
    // and the word-count gate is expressed as its space-count equivalent
    // (split-by-" " yields exactly #spaces+1 tokens; null text still drops)
    // so the kernel's short-doc whole-string branch never fires.
    base.unionByName(clones)
      .filter(length(col("text")) - length(translate(col("text"), " ", "")) >= 19)
      .select(col("doc_id"),
        explode(graft.ops.Dedup.shingles(col("text"), 20)).as("sh"))
      .select(col("doc_id"), md5(col("sh")).as("g"))
      .groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("n_docs_sharing"))
      .filter(col("n_docs_sharing") >= 2)
      .groupBy(col("n_docs_sharing"))
      .agg(count(lit(1)).as("n_spans"))
      .orderBy(col("n_docs_sharing"))
  }

  /** DuckDB twin of [[dupSpans]]. */
  val dupSpansOracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, string_split(text, ' ') FROM documents
      |  WHERE doc_id % 10 = 0),
      |g AS (
      |  SELECT doc_id, md5(array_to_string(toks[i : i + 19], ' ')) AS g
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 18)) AS i
      |        FROM d WHERE len(toks) >= 20)),
      |c AS (
      |  SELECT g, count(DISTINCT doc_id)::BIGINT AS n_docs_sharing
      |  FROM g GROUP BY 1)
      |SELECT n_docs_sharing, count(*) AS n_spans
      |FROM c WHERE n_docs_sharing >= 2
      |GROUP BY 1 ORDER BY n_docs_sharing""".stripMargin

  /** q75: tf-idf distinctive tokens — top-5 tokens per source by
    * tf × (nSources/df). The idf is the RATIONAL form, not ln(): IEEE
    * division is exactly rounded and therefore engine-identical, while libm
    * ln() may differ in the last ulp between the JVM and DuckDB and flip a
    * rounded hash. Rank window runs over the aggregated (source, token)
    * frame; df comes from a broadcast-sized distinct-source census.
    */
  def tfidfTopK(s: SparkSession, dir: String): DataFrame = {
    val tf = documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // df and nSources both derive from the ALREADY-AGGREGATED tf frame (one
    // row per (source, token)) — no second corpus scan / explode / distinct
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val ns = tf.select(countDistinct(col("source")).cast("double").as("ns"))
    val scored = tf.join(broadcast(df), "token")
      .crossJoin(broadcast(ns))
      .withColumn("score", round(col("tf") * col("ns") / col("df"), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("score").desc, col("token"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("source"), col("token"), col("tf"), col("df"), col("score"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** DuckDB twin of [[tfidfTopK]]. */
  val tfidfTopKOracle: String =
    """WITH t AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT source, token, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      |ns AS (SELECT count(DISTINCT source)::DOUBLE AS ns FROM tf),
      |sc AS (
      |  SELECT tf.source, tf.token, tf.tf, df.df,
      |    round(tf.tf * ns.ns / df.df, 4) AS score
      |  FROM tf JOIN df USING (token) CROSS JOIN ns),
      |r AS (
      |  SELECT source, token, tf, df, score,
      |    row_number() OVER (PARTITION BY source ORDER BY score DESC, token) AS rk
      |  FROM sc)
      |SELECT source, token, tf, df, score, rk FROM r WHERE rk <= 5
      |ORDER BY source, rk""".stripMargin

  /** q78: decontamination with a BLOOM prefilter — the 100 TB shape of q69.
    * q69 broadcast-joins the benchmark gram set, which stops working when
    * the held-out suite is itself large; here a Bloom filter over the
    * benchmark grams' xxhash64 prefilters the training-gram stream BEFORE the
    * join, so the join input shrinks to the candidates and the join itself
    * needs no broadcast hint. The filter is part of the plan: Spark's
    * runtime-filter pair, a `BloomFilterAggregate` over the bench grams run
    * as a scalar subquery and a `BloomFilterMightContain` predicate on the
    * training side, sized by the session's
    * `spark.sql.optimizer.runtime.bloomFilter.*` conf (by default 8M bits for
    * 10^6 items, far above the bench-gram count at every fixture SF).
    * Building the frame runs no job and persists nothing. The exact join
    * after the prefilter removes Bloom false positives, which is what keeps
    * q69's DuckDB oracle EXACT for this variant too (the Bloom is pure
    * candidate reduction, never a truth source).
    */
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val docs = decontamDocs(s, dir)
    val bench = benchGrams(docs)
    val key = expression(xxhash64(col("g")))
    val bloom = bench
      .select(column(new BloomFilterAggregate(key).toAggregateExpression()))
      .scalar()
    trainingGrams(docs)
      .filter(column(BloomFilterMightContain(expression(bloom), key)))
      .join(bench, "g") // exact verify of the Bloom's candidates
      .groupBy(col("doc_id"), col("source"))
      .agg(countDistinct(col("g")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** q78 oracle = q69's oracle verbatim: the Bloom stage is candidate
    * reduction only; results are defined by the exact gram join.
    */
  val decontaminateBloomOracle: String = decontaminateOracle

  /** q79: deterministic stratified train/validation split — the standard
    * hash-split every training pipeline needs: per document, a 60-bit md5
    * rank (the corpus' shared mixing key, [[graft.ops.Pack.md5Rank60]]);
    * rank < (2^60 / 10) * 9 → train (~90%), else val. The threshold is an
    * EXACT integer computed identically in both engines (floor-divide
    * before multiply — Long-safe), so membership is bit-deterministic:
    * re-running the split on any engine yields the same assignment, the
    * property that makes a split reproducible across a 1000-executor
    * cluster and a laptop. Census per (source, split): docs + tokens.
    */
  def trainValSplit(s: SparkSession, dir: String): DataFrame = {
    val thr = (1152921504606846976L / 10L) * 9L // (2^60/10)*9, floor-divide first
    documents(s, dir)
      .select(col("source"),
        when(graft.ops.Pack.md5Rank60(col("doc_id").cast("string")) < thr,
          "train").otherwise("val").as("split"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("split"))
  }

  /** DuckDB twin of [[trainValSplit]]. */
  val trainValSplitOracle: String =
    """SELECT source,
      |  CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
      |            < (1152921504606846976 // 10) * 9
      |       THEN 'train' ELSE 'val' END AS split,
      |  count(*) AS n_docs,
      |  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
      |FROM documents GROUP BY 1, 2 ORDER BY source, split""".stripMargin
}
