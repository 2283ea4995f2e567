package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.ops._
import graft.runtime.Checkpoints

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` = one entry per implemented operator family from SURVEY.md §2
  * (+ the training-data-pipeline operators), each with a DuckDB-equivalent
  * oracle in `oracleSql` where ANSI-SQL-expressible. Column names are kept
  * identical between the Spark plan and the oracle SQL (the driver's compare
  * sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship: the KG-construction mini-pipeline (text extraction → mention
    * linking → triple emit) over the sf0.001 documents table. */
  def entry(spark: SparkSession): DataFrame =
    KgQueries.triples(spark, "/root/testdata/sf0.001")

  /** The pins of the query entered last ([[Checkpoints]]). */
  private val lastQueryPins =
    new java.util.concurrent.atomic.AtomicReference[Checkpoints.Owner]()

  /** The declared queries, by name: `(spark, sfDir) => result`.
    *
    * Contract: CONSUME each result before calling the next query. A query
    * function pins multiply-consumed frames under its own owner, and
    * entering the next query frees those pins ([[Checkpoints]]). The
    * returned frame may read them, and a freed pin cannot recompute. Only
    * the previous query's own pins are freed: a caller's frames, a
    * concurrent `Pipeline.run` and anything pinned outside a query keep
    * theirs. Bench, Verify and BenchExtra evaluate each result fully
    * before the next call. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queryImpls.map { case (name, fn) =>
      name -> { (s: SparkSession, d: String) =>
        val pins = new Checkpoints.Owner
        Option(lastQueryPins.getAndSet(pins)).foreach(_.close())
        Checkpoints.within(pins)(fn(s, d))
      }
    }

  private def queryImpls: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — relational operator families (SURVEY §2) —
    "s9_stats_report"       -> (Relational.statsReport _),
    "f1_prefilter"          -> (Relational.prefilter _),
    "f8_label_validity"     -> (Relational.labelValidity _),
    "j1_broadcast_dim_join" -> (Relational.broadcastDimJoin _),
    "j2_levenshtein_pairs"  -> (Relational.levenshteinPairs _),
    "j7_anti_join_new"      -> (Relational.antiJoinNew _),
    "j9_lexical_key_group"  -> (Relational.lexicalKeyGroup _),
    "a2_surface_form_freq"  -> (Relational.surfaceFormFreq _),
    "a3_median_agg"         -> (Relational.medianAgg _),
    "a7_rule_mining_stats"  -> (Relational.ruleMiningStats _),
    "a12_functional_pred"   -> (Relational.functionalPredicate _),
    "a14_majority_share"    -> (Relational.majorityWithShare _),
    "a16_degree_popularity" -> (Relational.degreePopularity _),
    "w1_topk_per_group"     -> (Relational.topKPerGroup _),
    "a10_domain_range"      -> (Relational.domainRangeHeuristic _),
    "a3_zero_padded_median" -> (MiningQueries.zeroPaddedMedian _),
    "a5_hearst_counts"      -> (MiningQueries.hearstCounts _),
    "a6_hypernym_vote"      -> (MiningQueries.hypernymVote _),
    "f9_frequent_label"     -> (MiningQueries.frequentLabelFilter _),
    "a15_property_freq"     -> (MiningQueries.propertyFreqSubtree _),
    "a11_disjointness"      -> (MiningQueries.disjointnessCosine _),
    "cat2ax_pattern_probe"  -> (MiningQueries.cat2axPatternProbe _),
    "a9_valid_tags"         -> (MiningQueries.validTags _),
    "m4_negative_chunks"    -> (MiningQueries.m4NegativeChunks _),
    "ontology_axiom_facts"  -> (KgQueries.axiomFactsQuery _),
    "ontology_classes"      -> (KgQueries.ontologyClassesQuery _),
    "ontology_mappings"     -> (KgQueries.ontologyMappingsQuery _),
    "kg_external_export"    -> (KgQueries.externalExportQuery _),
    "f7_table_grid"         -> (MiningQueries.f7TableGrid _),
    "u2_set_difference"     -> (Relational.setDifference _),
    "g2_type_closure"       -> (Relational.typeClosure _),
    "g9_connected_components" -> (Relational.connectedComponents _),
    "eval_clustering"       -> (Relational.clusteringEval _),
    "md_span_eval"          -> (MdQueries.mdSpanEval _),
    // — training-data-pipeline operators —
    "dedup_exact"             -> (Dedup.exactDedup _),
    "dedup_ngram_jaccard"     -> (Dedup.ngramJaccard _),
    "dedup_minhash_lsh"       -> (Dedup.minhashLsh _),
    // the fast path's containment contract (verified ⊆ fast candidates) is
    // what's oracle-checkable — the raw xxhash64 candidate set isn't
    "dedup_minhash_fast"      -> (Dedup.minhashLshFastContainment _),
    "dedup_simhash"           -> (Dedup.simhash _),
    "dedup_embedding_cosine"  -> (Dedup.embeddingCosine _),
    "dedup_embedding_ivf"     -> (Dedup.embeddingCosineIvf _),
    "dedup_common_ngrams"     -> (Dedup.commonNgrams _),
    "dedup_cluster_keep"      -> (Dedup.clusterKeep _),
    "dedup_paragraph"         -> (Dedup.paragraphDedup _),
    "dedup_decontaminate"     -> (Dedup.decontaminate _),
    "ann_bruteforce_topk"     -> (Ann.bruteForceTopK _),
    "ann_ivf_topk"            -> (Ann.ivfTopK _),
    "ann_ivf_multiprobe"      -> (Ann.ivfMultiProbe _),
    "ann_ivf_trained"         -> (Ann.ivfTrainedTopK _),
    "ann_lsh_cosine"          -> (Ann.lshCosine _),
    "text_lang_id"            -> (TextOps.langId _),
    "text_quality_score"      -> (TextOps.qualityScore _),
    "text_token_count"        -> (TextOps.tokenCount _),
    "text_fingerprint"        -> (TextOps.fingerprint _),
    "text_repetition"         -> (TextOps.repetition _),
    "text_pii_scrub"          -> (TextOps.piiScrub _),
    "sample_mix_weighted"     -> (Sampling.mixQuery _),
    "sample_split_assign"     -> (Sampling.splitQuery _),
    "sample_cap_per_source"   -> (Sampling.capQuery _),
    "mm_decode_meta" -> (graft.multimodal.MultimodalQueries.decodeMeta _),
    "stream_window_counts" -> ((s, d) =>
      graft.streaming.Streams.windowedCounts(graft.core.Tables.events(s, d))),
    "stream_sessionize" -> ((s, d) =>
      graft.streaming.Streams.sessionize(graft.core.Tables.events(s, d))),
    "stream_dedup" -> ((s, d) =>
      graft.streaming.Streams.dedupBatch(graft.core.Tables.events(s, d))),
    "stream_join_attribution" -> ((s, d) =>
      graft.streaming.Streams.attributionJoinBatch(
        graft.core.Tables.events(s, d))),
    "j9_bm25_topk" -> ((s, d) => graft.link.Bm25.topK(s, d)),
    // — KG-construction stages over documents-as-pages —
    "kg_extract_invariant"    -> (KgQueries.extractInvariant _),
    "kg_triples"              -> (KgQueries.triples _),
    "kg_delta_identity"       -> (KgQueries.deltaIdentity _),
    "ed_alignment_edges"      -> (KgQueries.alignmentEdges _),
    "g11_bottomup_cluster"    -> (KgQueries.bottomUpClusterQuery _),
    "nif_context_roundtrip"   -> (NifQueries.contextRoundtrip _),
    "nif_mentions_roundtrip"  -> (NifQueries.mentionsRoundtrip _),
    "nif_type_lexicalisations" -> (NifQueries.typeLexicalisations _),
    "xml_pages_roundtrip"     -> (XmlQueries.pagesRoundtrip _),
  )

  def oracleSql: Map[String, String] = Map(
    "s9_stats_report" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
         round(sum(l_quantity),6) AS sum_qty,
         round(avg(l_extendedprice),6) AS avg_price,
         count(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY 1,2""",
    "f1_prefilter" ->
      "SELECT doc_id, n_chars FROM documents WHERE lang='en' AND text LIKE '%spark%'",
    "f8_label_validity" ->
      """SELECT p_partkey, p_name FROM part
         WHERE length(p_name)>2 AND NOT regexp_matches(p_name,'^[0-9]+$')""",
    "j1_broadcast_dim_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(sum(o_totalprice),4) AS revenue
         FROM orders JOIN customer ON o_custkey=c_custkey GROUP BY 1""",
    "j2_levenshtein_pairs" ->
      """SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key
         FROM supplier a JOIN supplier b
           ON substring(a.s_name,1,8)=substring(b.s_name,1,8)
          AND a.s_suppkey < b.s_suppkey
         WHERE levenshtein(a.s_name,b.s_name) <= 2""",
    "j7_anti_join_new" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey=c.c_custkey AND o.o_totalprice > 150000)""",
    "j9_lexical_key_group" ->
      """SELECT regexp_replace(lower(p_type),'[^a-z0-9]','','g') AS lex_key,
         count(*) AS n_parts FROM part GROUP BY 1""",
    "a2_surface_form_freq" ->
      """WITH c AS (SELECT event_type, user_id % 10 AS user_bucket,
                    count(*) AS cnt FROM events GROUP BY 1,2)
         SELECT event_type, user_bucket, cnt,
           round(cnt / sum(cnt) OVER (PARTITION BY event_type), 6) AS freq
         FROM c""",
    "a3_median_agg" ->
      """SELECT l_returnflag, round(median(l_quantity),6) AS med_qty,
         round(median(l_extendedprice),6) AS med_price
         FROM lineitem GROUP BY 1""",
    "a7_rule_mining_stats" ->
      """WITH lvl1 AS (
           SELECT l_returnflag, l_orderkey,
             sum(CASE WHEN l_discount>0.05 THEN 1 ELSE 0 END) AS hit_cnt,
             count(*) AS cnt
           FROM lineitem GROUP BY 1,2),
         lvl1c AS (SELECT *, hit_cnt/cnt AS conf FROM lvl1),
         micro AS (
           SELECT l_returnflag,
             CAST(sum(hit_cnt) AS DOUBLE)/CAST(sum(cnt) AS DOUBLE) AS micro_mean_raw,
             avg(conf) AS macro_mean_raw
           FROM lvl1c GROUP BY 1)
         SELECT l.l_returnflag,
           round(max(m.micro_mean_raw),6) AS micro_mean,
           round(max(m.macro_mean_raw),6) AS macro_mean,
           round(avg(abs(l.conf - m.micro_mean_raw)),6) AS micro_std,
           count(DISTINCT l.l_orderkey) AS group_count
         FROM lvl1c l JOIN micro m ON l.l_returnflag=m.l_returnflag
         GROUP BY 1""",
    "a12_functional_pred" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
                    FROM events GROUP BY 1,2)
         SELECT event_type,
           round(avg(CASE WHEN cnt>1 THEN 1.0 ELSE 0.0 END),6) AS multi_share,
           round(avg(CASE WHEN cnt>1 THEN 1.0 ELSE 0.0 END),6) <= 0.05 AS functional
         FROM c GROUP BY 1""",
    "a14_majority_share" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
                    FROM events GROUP BY 1,2),
         r AS (SELECT *,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY cnt DESC, event_type ASC) AS rn,
           round(cnt / sum(cnt) OVER (PARTITION BY user_id), 6) AS share
           FROM c)
         SELECT user_id, event_type AS majority_type, cnt, share
         FROM r WHERE rn=1""",
    "a16_degree_popularity" ->
      """SELECT nationkey, count(*) AS degree FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION ALL SELECT s_nationkey FROM supplier) GROUP BY 1""",
    "w1_topk_per_group" ->
      """SELECT * FROM (
           SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rnk
           FROM lineitem) WHERE rnk <= 3""",
    "a10_domain_range" ->
      """WITH c AS (SELECT event_type, user_id % 5 AS type_bucket,
                    count(*) AS cnt FROM events GROUP BY 1,2),
         r AS (SELECT *,
           cnt / sum(cnt) OVER (PARTITION BY event_type) AS share,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY cnt DESC, type_bucket ASC) AS rn
           FROM c)
         SELECT event_type, type_bucket AS top_bucket, round(share,6) AS share
         FROM r WHERE rn=1 AND share >= 0.15""",
    "u2_set_difference" ->
      """SELECT p_partkey, p_name FROM part p
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
           WHERE l.l_partkey=p.p_partkey AND l.l_quantity >= 49)""",
    "g2_type_closure" ->
      """WITH RECURSIVE edges AS (
           SELECT 'c'||c_custkey AS node, 'n'||c_nationkey AS anc FROM customer
           UNION ALL
           SELECT 'n'||n_nationkey, 'r'||n_regionkey FROM nation),
         clos(node, anc) AS (
           SELECT node, anc FROM edges
           UNION
           SELECT c.node, e.anc FROM clos c JOIN edges e ON c.anc=e.node)
         SELECT node, anc FROM clos""",
    "g9_connected_components" ->
      """WITH RECURSIVE e AS (
           SELECT DISTINCT 'o'||l_orderkey AS src, 'p'||l_partkey AS dst
           FROM lineitem WHERE l_partkey <= 20),
         ud AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         reach(node, r) AS (
           SELECT src, src FROM ud
           UNION
           SELECT ud.dst, reach.r FROM reach JOIN ud ON reach.node=ud.src)
         SELECT node, min(r) AS component FROM reach GROUP BY node""",
    "eval_clustering"        -> Relational.clusteringEvalSql,
    "md_span_eval"           -> MdQueries.mdSpanEvalSql,
    "a3_zero_padded_median"  -> MiningQueries.zeroPaddedMedianSql,
    "a5_hearst_counts"       -> MiningQueries.hearstCountsSql,
    "a6_hypernym_vote"       -> MiningQueries.hypernymVoteSql,
    "f9_frequent_label"      -> MiningQueries.frequentLabelFilterSql,
    "a15_property_freq"      -> MiningQueries.propertyFreqSubtreeSql,
    "a11_disjointness"       -> MiningQueries.disjointnessCosineSql,
    "cat2ax_pattern_probe"   -> MiningQueries.cat2axPatternProbeSql,
    "a9_valid_tags"          -> MiningQueries.validTagsSql,
    "m4_negative_chunks"     -> MiningQueries.m4NegativeChunksSql,
    "ontology_axiom_facts"   -> KgQueries.axiomFactsOracle,
    "ontology_classes"       -> KgQueries.ontologyClassesOracle,
    "ontology_mappings"      -> KgQueries.ontologyMappingsOracle,
    "kg_external_export"     -> KgQueries.externalExportOracle,
    "f7_table_grid"          -> MiningQueries.f7TableGridSql,
    "dedup_exact"            -> Dedup.exactDedupSql,
    "dedup_ngram_jaccard"    -> Dedup.ngramJaccardSql,
    "dedup_minhash_lsh"      -> Dedup.minhashLshSql,
    // oracle = the verified pair set; Spark emits verified ∩ fast
    // candidates, so equality ⟺ the fast path covers every verified pair
    "dedup_minhash_fast"     -> Dedup.minhashLshSql,
    "dedup_simhash"          -> Dedup.simhashSql,
    "dedup_embedding_cosine" -> Dedup.embeddingCosineSql,
    "dedup_embedding_ivf"    -> Dedup.embeddingCosineIvfSql,
    "dedup_common_ngrams"    -> Dedup.commonNgramsSql,
    "dedup_cluster_keep"     -> Dedup.clusterKeepSql,
    "dedup_paragraph"        -> Dedup.paragraphDedupSql,
    "dedup_decontaminate"    -> Dedup.decontaminateSql,
    "ann_bruteforce_topk"    -> Ann.bruteForceTopKSql,
    "ann_ivf_topk"           -> Ann.ivfTopKSql,
    "ann_ivf_multiprobe"     -> Ann.ivfMultiProbeSql,
    "ann_ivf_trained"        -> Ann.ivfTrainedTopKSql,
    "ann_lsh_cosine"         -> Ann.lshCosineSql,
    "text_lang_id"           -> TextOps.langIdSql,
    "text_quality_score"     -> TextOps.qualityScoreSql,
    "text_token_count"       -> TextOps.tokenCountSql,
    "text_fingerprint"       -> TextOps.fingerprintSql,
    "text_repetition"        -> TextOps.repetitionSql,
    "text_pii_scrub"         -> TextOps.piiScrubSql,
    "sample_mix_weighted"    -> Sampling.mixSql,
    "sample_split_assign"    -> Sampling.splitSql,
    "sample_cap_per_source"  -> Sampling.capSql,
    "mm_decode_meta" -> graft.multimodal.MultimodalQueries.decodeMetaSql,
    "stream_window_counts"   -> graft.streaming.Streams.windowedCountsSql,
    "stream_sessionize"      -> graft.streaming.Streams.sessionizeSql,
    "stream_dedup"           -> graft.streaming.Streams.dedupBatchSql,
    "stream_join_attribution" -> graft.streaming.Streams.attributionJoinSql,
    "j9_bm25_topk"           -> graft.link.Bm25.topKSql,
    "kg_extract_invariant"   -> KgQueries.extractInvariantOracle,
    "kg_triples"             -> KgQueries.triplesOracle,
    "kg_delta_identity"      -> KgQueries.deltaIdentityOracle,
    "ed_alignment_edges"     -> KgQueries.alignmentEdgesOracle,
    "g11_bottomup_cluster"   -> KgQueries.bottomUpClusterOracle,
    "nif_context_roundtrip"  -> NifQueries.contextRoundtripSql,
    "nif_mentions_roundtrip" -> NifQueries.mentionsRoundtripSql,
    "nif_type_lexicalisations" -> NifQueries.typeLexicalisationsSql,
    "xml_pages_roundtrip"    -> XmlQueries.pagesRoundtripSql,
  )
}
