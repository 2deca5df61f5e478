package graft

import graft.queries.{DocQueries, EventQueries, MoreQueries, TagQueries, TraceQueries}
import graft.sources.TokenFixture
import graft.tiers.{TierCascade, TierRollup}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or a
  * training-pipeline op from the builder prompt); `oracleSql` holds the
  * DuckDB-equivalent SQL the driver runs over the same parquet tables.
  * Column names and types are aligned on both sides; f64 sums are rounded
  * (round(·,4/5/6)) because double association order differs between engines;
  * all other aggregates are exact.
  */
object SparkEntry {

  /** Flagship on sf=0.001 scale: the full north-rule pipeline — synthesize the
    * token table (input_hint shape, seed=42), derive observations, run the
    * resumable raw→1m→1h→1d tier cascade through the lake layer, return the 1m
    * tier. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val base = graft.lake.LakeTable.tempBase(spark, "graft_entry")
    val tok = TokenFixture.tokenTable(spark, 20000L, withTokens = false)
    val obs = TokenFixture.deriveObs(tok).select("series", "ts", "seq", "value")
    val results = TierCascade.run(spark, obs, base, seriesBuckets = 8, salts = 4)
    results.head.table.read()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // —— time-series core over `events` (SURVEY §2.3/§2.5/§2.9) ——
    "q01_rollup_1m" -> (EventQueries.rollup1m _),
    "q02_rollup_1h" -> (EventQueries.rollup1h _),
    "q03_rollup_1d" -> (EventQueries.rollup1d _),
    "q04_gapfill_locf" -> (EventQueries.gapfillLocf _),
    "q05_delta_rate" -> (EventQueries.deltaRate _),
    "q06_latest_per_series" -> (EventQueries.latestPerSeries _),
    "q07_retention_ttl" -> (EventQueries.retentionTtl _),
    "q08_histogram_buckets" -> (EventQueries.histogramBuckets _),
    "q09_metricalize" -> (EventQueries.metricalize _),
    // —— stream-shaping transforms (SURVEY §2.2/§2.6) ——
    "q10_throttle" -> (EventQueries.throttle _),
    "q11_sample" -> (EventQueries.sample _),
    "q12_route" -> (EventQueries.route _),
    "q13_cardinality" -> (EventQueries.cardinality _),
    "q14_relabel" -> (EventQueries.relabel _),
    "q15_dedup_first" -> (EventQueries.dedupFirst _),
    // —— token/training-data pipeline over `documents`/`embeddings` ——
    "q16_token_rollup_1m" -> (DocQueries.tokenRollup1m _),
    "q17_dedup_exact" -> (DocQueries.dedupExact _),
    "q18_text_quality" -> (DocQueries.textQuality _),
    "q19_lang_id" -> (DocQueries.langId _),
    "q20_token_count" -> (DocQueries.tokenCount _),
    "q21_fingerprint" -> (DocQueries.fingerprint _),
    "q22_ann_cosine" -> (DocQueries.annCosineAll _),
    // —— batch 2: enforcement/fanout/rewrite/summary + hash-based ops ——
    "q23_cardinality_enforce" -> (MoreQueries.cardinalityEnforce _),
    "q24_union_fanout" -> (MoreQueries.unionFanout _),
    "q25_rewrite_vtl" -> (MoreQueries.rewriteVtl _),
    "q26_summary_quantiles" -> (MoreQueries.summaryQuantiles _),
    "q27_ngram_jaccard" -> (MoreQueries.ngramJaccard _),
    // q29/q30/q46 are rows-only checks (hash functions not reproducible in
    // DuckDB SQL; each is verified against a Scala oracle in ScalaTest);
    // q28/q52 run the same LSH machinery on a provable-recall slice where
    // DuckDB equality joins ARE exact oracles
    "q28_minhash_lsh" -> (MoreQueries.minhashLsh _),
    "q29_simhash_pairs" -> (MoreQueries.simhashPairs _),
    "q30_ann_lsh" -> (MoreQueries.annLsh _),
    "q31_gorilla_pages" -> (MoreQueries.gorillaPages _),
    "q32_multimodal_decode" -> (MoreQueries.multimodalDecode _),
    // —— batch 3: joins + text-format ingestion ——
    "q33_asof_join" -> (MoreQueries.asofJoin _),
    "q34_enrich_join" -> (MoreQueries.enrichJoin _),
    "q35_promtext" -> (MoreQueries.promTextParse _),
    "q36_remote_write_batches" -> (MoreQueries.remoteWriteBatches _),
    "q37_exporter_render" -> (MoreQueries.exporterRender _),
    // —— batch 4 (round 2): tag-map metric model ——
    "q38_relabel_tags" -> (TagQueries.relabelTags _),
    "q39_metricalize_paths" -> (TagQueries.metricalizePaths _),
    "q40_remote_write_encode" -> (TagQueries.remoteWriteEncode _),
    "q41_cardinality_sketch" -> (MoreQueries.cardinalitySketch _),
    "q42_quantiles_sketch" -> (MoreQueries.summaryQuantilesSketch _),
    "q43_exporter_expo" -> (TagQueries.exporterExpo _),
    "q44_parse_query_url" -> (TagQueries.parseQueryUrl _),
    "q45_pushgateway_grouping" -> (TagQueries.pushgatewayGrouping _),
    // rows-only (hash-bucketed ANN not DuckDB-reproducible; recall is
    // ScalaTest-verified against brute force)
    "q46_ann_multiprobe" -> (MoreQueries.annMultiProbe _),
    // —— batch 5 (round 3): enforcement modes + range lookup + self-telemetry ——
    "q47_cardinality_droptag" -> (MoreQueries.cardinalityDropTag _),
    "q48_geoip_range" -> (MoreQueries.geoipRange _),
    "q49_internal_metrics" -> (MoreQueries.internalMetricsCensus _),
    "q50_set_ops_diff" -> (MoreQueries.setOpsDiff _),
    "q51_cosine_neardup" -> (MoreQueries.cosineNearDup _),
    "q52_cosine_neardup_lsh" -> (MoreQueries.cosineNearDupLsh _),
    // —— batch 6 (round 4): GCRA admission replay + counter-mode sample ——
    "q53_throttle_gcra" -> (EventQueries.throttleGcra _),
    "q54_sample_counter" -> (EventQueries.sampleCounter _),
    "q55_winnow_fingerprint" -> (DocQueries.winnowFingerprint _),
    "q56_ann_ivf" -> (MoreQueries.annIvf _),
    "q57_media_resize" -> ((s, d) => graft.ops.Multimodal.resizePipeline(s, d)),
    "q58_audio_frame_sample" -> ((s, d) => graft.ops.Multimodal.frameSamplePipeline(s, d)),
    // —— batch 7 (round 4 cont.): dedup-group closure + curation compose ——
    "q59_dedup_clusters" -> (MoreQueries.dedupClusters _),
    "q60_corpus_curate" -> (DocQueries.corpusCurate _),
    // —— batch 8: hist-tier quantile read + provable slices for the two
    // remaining hash-bound families (simhash banding, ANN LSH probe) ——
    "q61_simhash_clones" -> (MoreQueries.simhashClones _),
    "q62_ann_lsh_clones" -> (MoreQueries.annLshClones _),
    "q63_hist_quantile" -> (MoreQueries.histQuantile _),
    // —— batch 9: sequence packing (two-phase distributed prefix sum) ——
    "q64_pack_census" -> (DocQueries.packCensusDocs _),
    "q65_pii_redact" -> (DocQueries.piiRedact _),
    "q66_doc_chunk" -> (DocQueries.docChunks _),
    "q67_corpus_mix" -> (DocQueries.corpusMix _),
    "q68_pack_sequences" -> (DocQueries.packSequencesDocs _),
    "q69_decontaminate" -> (DocQueries.decontaminate _),
    "q70_vocab_topk" -> (DocQueries.vocabTopK _),
    "q71_repetition_filter" -> (DocQueries.repetitionFilter _),
    "q72_epoch_resample" -> (DocQueries.epochResample _),
    "q73_train_shuffle" -> (DocQueries.trainShuffle _),
    "q74_dup_spans" -> (DocQueries.dupSpans _),
    "q75_tfidf_topk" -> (DocQueries.tfidfTopK _),
    // —— round 5: non-exclusive route + multi-probe provable slice ——
    "q76_route_multi" -> (EventQueries.routeMulti _),
    "q77_ann_multiprobe_clones" -> (MoreQueries.annMultiProbeClones _),
    // —— round 5: scale-shape decontamination + reproducible split ——
    "q78_decontaminate_bloom" -> (DocQueries.decontaminateBloom _),
    "q79_train_val_split" -> (DocQueries.trainValSplit _),
    // —— round 5: statement-level VTL program (if/for/continue/del/return) ——
    "q80_vtl_program" -> (MoreQueries.vtlProgram _),
    // —— round 5: trace analytics (Event::Trace — assembly, self-time, RED) ——
    "q81_trace_summary" -> (TraceQueries.traceSummary _),
    "q82_trace_selftime" -> (TraceQueries.traceSelfTime _),
    "q83_trace_red" -> (TraceQueries.traceRed _)
  )

  def oracleSql: Map[String, String] = Map(
    "q01_rollup_1m" ->
      """SELECT epoch(date_trunc('minute', ts))::BIGINT AS bucket, event_type,
        | round(sum(value),4) AS sum_v, count(*) AS cnt, min(value) AS min_v,
        | max(value) AS max_v, arg_max(value, ts) AS last_v
        |FROM events GROUP BY 1,2 ORDER BY bucket, event_type""".stripMargin,
    "q02_rollup_1h" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS bucket, event_type,
        | round(sum(value),4) AS sum_v, count(*) AS cnt, min(value) AS min_v,
        | max(value) AS max_v, arg_max(value, ts) AS last_v
        |FROM events GROUP BY 1,2 ORDER BY bucket, event_type""".stripMargin,
    "q03_rollup_1d" ->
      """SELECT epoch(date_trunc('day', ts))::BIGINT AS bucket, event_type,
        | round(sum(value),4) AS sum_v, count(*) AS cnt, min(value) AS min_v,
        | max(value) AS max_v, arg_max(value, ts) AS last_v
        |FROM events GROUP BY 1,2 ORDER BY bucket, event_type""".stripMargin,
    "q04_gapfill_locf" ->
      """WITH tier AS (
        |  SELECT event_type, (floor(epoch(ts))::BIGINT // 60) * 60 AS bucket,
        |         count(*) AS cnt, arg_max(value, ts) AS last_v
        |  FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00' GROUP BY 1,2),
        |bounds AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
        |           FROM tier GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(lo, hi, 60)) AS bucket
        |          FROM bounds)
        |SELECT sp.event_type, sp.bucket, coalesce(t.cnt, 0) AS cnt,
        |  (t.cnt IS NULL) AS is_gap,
        |  last_value(t.last_v IGNORE NULLS) OVER (PARTITION BY sp.event_type
        |    ORDER BY sp.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_v_filled
        |FROM spine sp LEFT JOIN tier t ON sp.event_type = t.event_type AND sp.bucket = t.bucket
        |ORDER BY sp.event_type, sp.bucket""".stripMargin,
    "q05_delta_rate" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS bucket,
        |         count(*)::DOUBLE AS cnt_v
        |  FROM events GROUP BY 1,2),
        |d AS (SELECT event_type, bucket, cnt_v,
        |        lag(cnt_v) OVER w AS prev, lag(bucket) OVER w AS prev_b
        |      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket))
        |SELECT event_type, bucket, cnt_v,
        |  CASE WHEN prev IS NULL THEN NULL
        |       WHEN cnt_v - prev < 0 THEN cnt_v ELSE cnt_v - prev END AS delta,
        |  round(CASE WHEN prev IS NULL THEN NULL
        |       WHEN cnt_v - prev < 0 THEN cnt_v ELSE cnt_v - prev END
        |       / (bucket - prev_b), 6) AS rate
        |FROM d ORDER BY event_type, bucket""".stripMargin,
    "q06_latest_per_series" ->
      """SELECT event_type, user_id, arg_max(value, ts) AS last_v,
        | floor(epoch(max(ts)))::BIGINT AS last_ts_s, count(*) AS n
        |FROM events GROUP BY 1,2 ORDER BY event_type, user_id""".stripMargin,
    "q07_retention_ttl" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value),4) AS sum_v
        |FROM events
        |WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q08_histogram_buckets" ->
      """SELECT event_type,
        | sum(CASE WHEN value <= 10 THEN 1 ELSE 0 END)::BIGINT AS le_10,
        | sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END)::BIGINT AS le_50,
        | sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END)::BIGINT AS le_100,
        | sum(CASE WHEN value <= 250 THEN 1 ELSE 0 END)::BIGINT AS le_250,
        | sum(CASE WHEN value <= 500 THEN 1 ELSE 0 END)::BIGINT AS le_500,
        | count(*) AS h_count, round(sum(value),4) AS h_sum
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q09_metricalize" ->
      """SELECT event_type,
        | sum(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT))::BIGINT AS k_sum,
        | count(*) AS cnt, count(DISTINCT user_id) AS users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q10_throttle" ->
      """WITH r AS (SELECT event_type, value,
        |  row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
        |                     ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_type, count(*) AS kept, round(sum(value),4) AS kept_sum
        |FROM r WHERE rn <= 5 GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q11_sample" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value),4) AS sum_v
        |FROM events WHERE event_id % 10 = 0 GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q12_route" ->
      """SELECT CASE WHEN event_type = 'error' THEN 'errors'
        |            WHEN value > 100 THEN 'high_value'
        |            WHEN user_id % 2 = 0 THEN 'even_users'
        |            ELSE '_unmatched' END AS port, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY port""".stripMargin,
    "q13_cardinality" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q14_relabel" ->
      """SELECT upper(event_type) AS kind, user_id % 16 AS user_shard, count(*) AS cnt
        |FROM events GROUP BY 1,2 ORDER BY kind, user_shard""".stripMargin,
    "q15_dedup_first" ->
      """SELECT user_id, event_type, arg_min(value, ts) AS first_v,
        | floor(epoch(min(ts)))::BIGINT AS first_ts_s
        |FROM events GROUP BY 1,2 ORDER BY user_id, event_type""".stripMargin,
    "q16_token_rollup_1m" ->
      """SELECT source,
        | ((1704067200 + doc_id % 86400) // 60) * 60 AS bucket,
        | sum(len(string_split(text, ' ')))::BIGINT AS sum_tok,
        | count(*) AS cnt,
        | min(len(string_split(text, ' ')))::BIGINT AS min_tok,
        | max(len(string_split(text, ' ')))::BIGINT AS max_tok
        |FROM documents GROUP BY 1,2 ORDER BY source, bucket""".stripMargin,
    "q17_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS dup_cnt,
        | min(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "q18_text_quality" ->
      """SELECT source, count(*) AS docs,
        | round(avg(len(string_split(text, ' '))), 4) AS avg_words,
        | round(avg(n_chars::DOUBLE / len(string_split(text, ' '))), 4) AS avg_word_len,
        | sum(((length(text) - length(replace(text, 'the', ''))) / 3)::BIGINT)::BIGINT AS stopword_hits
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "q19_lang_id" -> DocQueries.langIdOracle,
    "q20_token_count" ->
      """SELECT source,
        | sum(len(string_split(text, ' ')))::BIGINT AS ws_tokens,
        | sum(len(regexp_extract_all(text, '[a-zA-Z]+')))::BIGINT AS re_tokens,
        | count(*) AS docs
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "q21_fingerprint" ->
      """SELECT doc_id, substring(md5(text), 1, 16) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q22_ann_cosine" ->
      """WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |ex AS (SELECT vec_id, label,
        |         unnest(embedding)::DOUBLE AS x,
        |         unnest((SELECT q_emb FROM q))::DOUBLE AS y
        |       FROM embeddings)
        |SELECT vec_id, label,
        | round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 5) AS cosine
        |FROM ex GROUP BY 1,2 ORDER BY vec_id""".stripMargin,
    "q23_cardinality_enforce" ->
      """WITH fu AS (SELECT event_type, user_id, min(ts) AS fts
        |            FROM events GROUP BY 1,2),
        |rk AS (SELECT event_type, user_id,
        |         row_number() OVER (PARTITION BY event_type ORDER BY fts, user_id) AS rn
        |       FROM fu)
        |SELECT e.event_type, count(*) AS kept_cnt,
        |       count(DISTINCT e.user_id) AS kept_users
        |FROM events e JOIN rk ON e.event_type = rk.event_type AND e.user_id = rk.user_id
        |WHERE rk.rn <= 30 GROUP BY 1 ORDER BY e.event_type""".stripMargin,
    "q24_union_fanout" ->
      """SELECT event_type, count(*) AS cnt FROM (
        |  SELECT event_type FROM events WHERE value > 100
        |  UNION ALL
        |  SELECT event_type FROM events WHERE user_id % 2 = 0)
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q25_rewrite_vtl" ->
      """SELECT upper(event_type) AS kind,
        | round(sum(abs(value - 50.0)), 4) AS dev_sum,
        | max(length(props))::INT AS max_props_len,
        | sum(CASE WHEN regexp_matches(props, '[0-9]{2,}') THEN 1 ELSE 0 END)::BIGINT AS big_num_cnt
        |FROM events GROUP BY 1 ORDER BY kind""".stripMargin,
    "q26_summary_quantiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90,
        | round(quantile_cont(value, 0.99), 4) AS p99,
        | count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q27_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
        |    ELSE [text] END AS s
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(a.s || b.s)), 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    "q28_minhash_lsh" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 50 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_sort(list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])))
        |    ELSE [text] END AS s
        |  FROM all_docs)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 1.0::DOUBLE AS jaccard
        |FROM sh a JOIN sh b ON a.s = b.s AND b.doc_id > a.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q31_gorilla_pages" ->
      """SELECT event_type AS series,
        | (floor(epoch(ts))::BIGINT // 86400) * 86400 AS bucket,
        | count(*) AS n_points,
        | min(floor(epoch(ts))::BIGINT) AS ts_lo,
        | max(floor(epoch(ts))::BIGINT) AS ts_hi,
        | round(sum(value), 4) AS sum_v,
        | true AS roundtrip_ok
        |FROM events GROUP BY 1, 2 ORDER BY series, bucket""".stripMargin,
    "q37_exporter_render" ->
      """WITH r AS (SELECT event_type, user_id, value,
        |  row_number() OVER (PARTITION BY event_type, user_id
        |                     ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT 'graft_latest{type="' || event_type || '",user="' || user_id ||
        |       '"} ' || floor(value)::DOUBLE::VARCHAR AS line
        |FROM r WHERE rn = 1 ORDER BY line""".stripMargin,
    "q52_cosine_neardup_lsh" ->
      """WITH all_vecs AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id % 25 = 0)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, 1.0::DOUBLE AS cosine
        |FROM all_vecs a JOIN all_vecs b
        |  ON a.embedding = b.embedding AND b.vec_id > a.vec_id
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q53_throttle_gcra" ->
      """WITH RECURSIVE ev AS (
        |  SELECT event_type, epoch_us(ts)::BIGINT AS t, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_id < 2000),
        |rep AS (
        |  SELECT event_type, rn, t, value, true AS admitted,
        |         t + 28800000000 AS tat
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.event_type, e.rn, e.t, e.value,
        |         greatest(r.tat, e.t) + 28800000000 - 86400000000 <= e.t AS admitted,
        |         CASE WHEN greatest(r.tat, e.t) + 28800000000 - 86400000000 <= e.t
        |              THEN greatest(r.tat, e.t) + 28800000000 ELSE r.tat END AS tat
        |  FROM rep r JOIN ev e ON e.event_type = r.event_type AND e.rn = r.rn + 1)
        |SELECT event_type,
        |  sum(CASE WHEN admitted THEN 1 ELSE 0 END)::BIGINT AS admitted_cnt,
        |  sum(CASE WHEN admitted THEN 0 ELSE 1 END)::BIGINT AS denied_cnt,
        |  round(sum(CASE WHEN admitted THEN value END), 4) AS admitted_sum
        |FROM rep GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q55_winnow_fingerprint" -> DocQueries.winnowFingerprintOracle,
    // q56: DuckDB recomputes the IVF index end-to-end — assignment argmax on
    // 6dp-rounded cosines (ties to the smaller centroid id, mirroring the
    // strict-> UDF loop), nProbe=2 probe lists, exact cosine over the probed
    // lists, rank on 5dp-rounded scores with vec_id tie-break. The unnest-zip
    // cosine is the q22-proven arithmetic-identical pattern.
    "q56_ann_ivf" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
        |pairx AS (
        |  SELECT e.vec_id, c.cid,
        |    unnest(e.embedding)::DOUBLE AS x, unnest(c.cvec)::DOUBLE AS y
        |  FROM embeddings e CROSS JOIN cents c),
        |cosv AS (
        |  SELECT vec_id, cid,
        |    round(sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))), 6) AS cos
        |  FROM pairx GROUP BY 1, 2),
        |rk AS (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        |  FROM cosv),
        |asn AS (SELECT vec_id, cid FROM rk WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid FROM rk
        |  WHERE vec_id IN (0, 1, 2, 3, 4) AND rn <= 2),
        |cand AS (
        |  SELECT p.query_id, a.vec_id FROM probes p JOIN asn a ON a.cid = p.cid),
        |candx AS (
        |  SELECT c.query_id, c.vec_id,
        |    unnest(e.embedding)::DOUBLE AS x, unnest(q.embedding)::DOUBLE AS y
        |  FROM cand c
        |  JOIN embeddings e ON e.vec_id = c.vec_id
        |  JOIN embeddings q ON q.vec_id = c.query_id),
        |score AS (
        |  SELECT query_id, vec_id,
        |    round(sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))), 5) AS cosine
        |  FROM candx GROUP BY 1, 2),
        |fin AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM score)
        |SELECT query_id, rank::INT AS rank, vec_id, cosine
        |FROM fin WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q54_sample_counter" ->
      """WITH r AS (SELECT event_type, value,
        |  row_number() OVER (ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_v
        |FROM r WHERE (rn - 1) % 20 = 0 GROUP BY 1 ORDER BY event_type""".stripMargin,
    // q57/q58: the media content is doc_id arithmetic (Multimodal
    // .mediaTablePixels), so DuckDB recomputes the RESIZED raster census
    // (resized pixel (x,y) = source pixel (2x,2y) = (id+6x+14y) mod 251 over
    // ⌈w/2⌉×⌈h/2⌉) and the SAMPLED frame census (every 4th frame, channel 0:
    // ((31·id+52k) mod 65536)−32768) without parsing a byte — while the
    // Spark side earns the numbers through the full encode→transform→
    // re-decode byte path (bottom-up rows, 4-byte padding, interleaved LE
    // frames).
    "q57_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, (doc_id % 13) + 2 AS w, (doc_id % 11) + 2 AS h
        |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 7 <> 0),
        |cells AS (
        |  SELECT media_id, (w + 1) // 2 AS w2, (h + 1) // 2 AS h2,
        |    unnest(flatten(list_transform(range(0, (h + 1) // 2),
        |      y -> list_transform(range(0, (w + 1) // 2),
        |        x -> (media_id + 6 * x + 14 * y) % 251)))) AS p
        |  FROM m)
        |SELECT media_id, w2::INT AS w2, h2::INT AS h2, sum(p)::BIGINT AS pix_sum
        |FROM cells GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin,
    "q58_audio_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, (doc_id % 50) + 4 AS nf
        |  FROM documents WHERE doc_id % 2 = 1 AND doc_id % 7 <> 0),
        |s AS (
        |  SELECT media_id, (nf + 3) // 4 AS n_out,
        |    unnest(list_transform(range(0, (nf + 3) // 4),
        |      k -> ((31 * media_id + 52 * k) % 65536) - 32768)) AS v
        |  FROM m)
        |SELECT media_id, n_out::INT AS n_frames_out, sum(v)::BIGINT AS sample_sum
        |FROM s GROUP BY 1, 2 ORDER BY media_id""".stripMargin,
    // q59: the q51 pair set closed into components by a recursive CTE —
    // min-label closure over the symmetrized edges is exactly the
    // large-star/small-star fixpoint the Spark operator converges to
    "q59_dedup_clusters" ->
      """WITH RECURSIVE cand AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, a.embedding AS ea, b.embedding AS eb
        |  FROM embeddings a JOIN embeddings b
        |    ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 8),
        |ex AS (SELECT va, vb, unnest(ea)::DOUBLE AS x, unnest(eb)::DOUBLE AS y FROM cand),
        |pr AS (SELECT va, vb FROM ex GROUP BY 1, 2
        |  HAVING round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 5) >= 0.2),
        |edges AS (SELECT va AS s, vb AS d FROM pr UNION SELECT vb, va FROM pr),
        |nodes AS (SELECT DISTINCT s AS node FROM edges),
        |reach(node, m) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.d, r.m FROM reach r JOIN edges e ON e.s = r.node),
        |lab AS (SELECT node, min(m) AS cluster_id FROM reach GROUP BY 1),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT lab.node AS vec_id, lab.cluster_id::BIGINT AS cluster_id,
        |  sz.cluster_size::BIGINT AS cluster_size
        |FROM lab JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin,
    "q60_corpus_curate" -> graft.queries.DocQueries.corpusCurateOracle,
    // q61: banding recall on identical text is provable (identical text ⇒
    // identical simhash ⇒ all band keys collide) and the output is verified
    // by exact text equality, so a text-equality self-join IS the result
    "q61_simhash_clones" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 40 = 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM docs a JOIN docs b ON a.text = b.text AND b.doc_id > a.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q62: identical vector ⇒ identical sign bucket ⇒ the probe must surface
    // every planted clone; output pinned to exact embedding equality
    "q62_ann_lsh_clones" ->
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT 10000000 + i AS vec_id, embedding
        |  FROM embeddings CROSS JOIN range(1, 6) t(i) WHERE vec_id = 0),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id FROM e, q WHERE e.embedding = q.qe ORDER BY vec_id""".stripMargin,
    "q63_hist_quantile" -> graft.queries.MoreQueries.histQuantileOracle,
    "q64_pack_census" -> graft.queries.DocQueries.packCensusOracle,
    "q65_pii_redact" -> graft.queries.DocQueries.piiRedactOracle,
    "q66_doc_chunk" -> graft.queries.DocQueries.docChunksOracle,
    "q67_corpus_mix" -> graft.queries.DocQueries.corpusMixOracle,
    "q68_pack_sequences" -> graft.queries.DocQueries.packSequencesOracle,
    "q69_decontaminate" -> graft.queries.DocQueries.decontaminateOracle,
    "q70_vocab_topk" -> graft.queries.DocQueries.vocabTopKOracle,
    "q71_repetition_filter" -> graft.queries.DocQueries.repetitionFilterOracle,
    "q72_epoch_resample" -> graft.queries.DocQueries.epochResampleOracle,
    "q73_train_shuffle" -> graft.queries.DocQueries.trainShuffleOracle,
    "q74_dup_spans" -> graft.queries.DocQueries.dupSpansOracle,
    "q75_tfidf_topk" -> graft.queries.DocQueries.tfidfTopKOracle,
    "q76_route_multi" -> graft.queries.EventQueries.routeMultiOracle,
    // q78: Bloom is candidate reduction only — the exact gram join defines
    // the result, so q69's oracle applies verbatim
    "q78_decontaminate_bloom" -> graft.queries.DocQueries.decontaminateBloomOracle,
    "q79_train_val_split" -> graft.queries.DocQueries.trainValSplitOracle,
    "q80_vtl_program" -> graft.queries.MoreQueries.vtlProgramOracle,
    "q81_trace_summary" -> graft.queries.TraceQueries.traceSummaryOracle,
    "q82_trace_selftime" -> graft.queries.TraceQueries.traceSelfTimeOracle,
    "q83_trace_red" -> graft.queries.TraceQueries.traceRedOracle,
    // q77: clones sit in the query's exact bucket, so every probe radius
    // (0, 1, 2) must retrieve all of them; output pinned by exact embedding
    // equality — the q62 pattern for the multi-probe path
    "q77_ann_multiprobe_clones" ->
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT 10000000 + i AS vec_id, embedding
        |  FROM embeddings CROSS JOIN range(1, 6) t(i) WHERE vec_id = 0),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT h.h AS probe_hamming, e.vec_id
        |FROM e, q, range(0, 3) h(h) WHERE e.embedding = q.qe
        |ORDER BY probe_hamming, vec_id""".stripMargin,
    "q33_asof_join" ->
      """SELECT l.event_id, l.event_type, r.value AS asof_v
        |FROM events l ASOF LEFT JOIN
        |  (SELECT event_type, ts, value FROM events WHERE event_id % 20 = 0) r
        |  ON l.event_type = r.event_type AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    "q34_enrich_join" ->
      """SELECT n.n_name, count(*) AS cnt, round(sum(e.value),4) AS sum_v
        |FROM events e JOIN nation n ON (e.user_id % 25) = n.n_nationkey
        |GROUP BY 1 ORDER BY n.n_name""".stripMargin,
    "q35_promtext" ->
      """SELECT 'graft_value' AS name, event_type AS type,
        | count(*) AS samples, round(sum(value),4) AS sum_v
        |FROM events WHERE event_id < 2000
        |GROUP BY 2 ORDER BY type""".stripMargin,
    "q36_remote_write_batches" ->
      """WITH b AS (SELECT event_type,
        |  ((row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)) - 1) // 1000 AS batch_id
        |  FROM events),
        |s AS (SELECT event_type, batch_id, count(*) AS n FROM b GROUP BY 1,2)
        |SELECT event_type, count(*) AS n_batches, max(n) AS max_batch, min(n) AS min_batch
        |FROM s GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q38_relabel_tags" -> TagQueries.relabelTagsOracle,
    "q39_metricalize_paths" -> TagQueries.metricalizePathsOracle,
    "q40_remote_write_encode" -> TagQueries.remoteWriteEncodeOracle,
    "q41_cardinality_sketch" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users,
        | count(*) AS cnt, true AS sketch_ok
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q42_quantiles_sketch" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.9), 4) AS p90,
        | round(quantile_cont(value, 0.99), 4) AS p99,
        | count(*) AS cnt, true AS sketch_ok
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q43_exporter_expo" -> TagQueries.exporterExpoOracle,
    "q44_parse_query_url" -> TagQueries.parseQueryUrlOracle,
    "q45_pushgateway_grouping" -> TagQueries.pushgatewayGroupingOracle,
    "q32_multimodal_decode" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |    doc_id % 7 = 0 AS bad
        |  FROM documents)
        |SELECT kind, count(*) AS n_media,
        |  sum(CASE WHEN bad THEN 1 ELSE 0 END)::BIGINT AS n_malformed,
        |  sum(CASE WHEN NOT bad AND kind = 'image' THEN doc_id % 640 + 1 ELSE 0 END)::BIGINT AS sum_width,
        |  sum(CASE WHEN NOT bad AND kind = 'image' THEN doc_id % 480 + 1 ELSE 0 END)::BIGINT AS sum_height,
        |  sum(CASE WHEN NOT bad AND kind = 'audio' THEN 8000 * (doc_id % 5 + 1) ELSE 0 END)::BIGINT AS sum_rate,
        |  sum(CASE WHEN NOT bad AND kind = 'audio'
        |      THEN ((doc_id % 100 + 1) * 1024 * 1000) // (8000 * (doc_id % 5 + 1) * (doc_id % 2 + 1) * 2)
        |      ELSE 0 END)::BIGINT AS sum_duration_ms
        |FROM m GROUP BY 1 ORDER BY kind""".stripMargin,
    "q47_cardinality_droptag" ->
      """WITH fu AS (SELECT user_id, min(ts) AS fts FROM events GROUP BY 1),
        |rk AS (SELECT user_id, row_number() OVER (ORDER BY fts, user_id::VARCHAR) AS rn FROM fu)
        |SELECT CASE WHEN rk.rn <= 30 THEN 'type=' || e.event_type || ',user=' || e.user_id
        |            ELSE 'type=' || e.event_type END AS series,
        |  count(*) AS cnt
        |FROM events e JOIN rk ON e.user_id = rk.user_id
        |GROUP BY 1 ORDER BY series""".stripMargin,
    "q48_geoip_range" ->
      """WITH r AS (SELECT n_name AS geo,
        |             n_nationkey::BIGINT * 16777216 AS lo,
        |             n_nationkey::BIGINT * 16777216 + (n_nationkey % 8 + 1) * 1048576 - 1 AS hi
        |           FROM nation),
        |e AS (SELECT (user_id % 25)::BIGINT * 16777216 + (user_id::BIGINT * 9973) % 16777216 AS ip,
        |             value
        |      FROM events)
        |SELECT coalesce(r.geo, 'unknown') AS geo, count(*) AS cnt,
        |  round(sum(e.value), 4) AS sum_v
        |FROM e LEFT JOIN r ON e.ip BETWEEN r.lo AND r.hi
        |GROUP BY 1 ORDER BY geo""".stripMargin,
    "q49_internal_metrics" ->
      """SELECT 'events_lake' AS table_name, 'event_type=' || event_type AS part,
        | count(*) AS n_rows
        |FROM events GROUP BY 2 ORDER BY part""".stripMargin,
    "q51_cosine_neardup" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, a.embedding AS ea, b.embedding AS eb
        |  FROM embeddings a JOIN embeddings b
        |    ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 8),
        |ex AS (SELECT va, vb, unnest(ea)::DOUBLE AS x, unnest(eb)::DOUBLE AS y FROM pairs)
        |SELECT va AS vec_a, vb AS vec_b,
        |  round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 5) AS cosine
        |FROM ex GROUP BY 1, 2
        |HAVING round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 5) >= 0.2
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q50_set_ops_diff" ->
      """WITH a AS (SELECT DISTINCT event_type, user_id FROM events WHERE value > 50),
        |b AS (SELECT DISTINCT event_type, user_id FROM events WHERE user_id % 3 = 0),
        |d AS (
        |  SELECT 'only_a' AS side, * FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |  UNION ALL
        |  SELECT 'only_b', * FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
        |  UNION ALL
        |  SELECT 'both', * FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
        |SELECT side, count(*) AS n_pairs, count(DISTINCT user_id) AS n_users
        |FROM d GROUP BY 1 ORDER BY side""".stripMargin
  )
}
