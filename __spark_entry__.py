"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()`` maps every
implemented operator from SURVEY.md §2 to a (spark, sf_dir) -> DataFrame
callable; ``oracle_sql()`` gives the DuckDB-equivalent SQL for the
correctness gate. Implementations live in flinkrunner_spark/.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flinkrunner_spark.llm import bpe as llm_bpe  # noqa: E402
from flinkrunner_spark.llm import chunking, dsir, lm, pq  # noqa: E402
from flinkrunner_spark.llm import collocations  # noqa: E402
from flinkrunner_spark.llm import curation  # noqa: E402
from flinkrunner_spark.llm import filters as llm_filters  # noqa: E402
from flinkrunner_spark.llm import dedup as llm_dedup  # noqa: E402
from flinkrunner_spark.llm import mm_transforms, multimodal, pipeline, sampling, similarity  # noqa: E402
from flinkrunner_spark.llm import sketches as llm_sketches  # noqa: E402
from flinkrunner_spark.llm import pruning as llm_pruning  # noqa: E402
from flinkrunner_spark.llm import spans as llm_spans  # noqa: E402
from flinkrunner_spark.llm import vocab as llm_vocab  # noqa: E402
from flinkrunner_spark.llm import text as llm_text  # noqa: E402
from flinkrunner_spark.plans import analytics, connectors, docstreams, events  # noqa: E402
from flinkrunner_spark.plans.oracle_sql import ORACLES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    return analytics.q1_pricing(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the first 50 entries (insertion order) are the
    # driver's oracle window.
    return {
        "stream_kafka_ts_offsets_roundtrip": (
            connectors.stream_kafka_ts_offsets_roundtrip
        ),
        "docs_pipeline": pipeline.docs_pipeline,
        "docs_langid_ngram": llm_text.docs_langid_ngram,
        "docs_langid": llm_text.docs_langid,
        "docs_quality": llm_text.docs_quality,
        "docs_tokens": llm_text.docs_tokens,
        "docs_fingerprint": llm_text.docs_fingerprint,
        "docs_split": pipeline.docs_split,
        "docs_gopher_rules": llm_filters.docs_gopher_rules,
        "docs_badwords": llm_filters.docs_badwords,
        "kafka_ts_offsets_roundtrip": connectors.kafka_ts_offsets_roundtrip,
        "kafka_roundtrip": connectors.kafka_roundtrip,
        "stream_kafka_roundtrip": connectors.stream_kafka_roundtrip,
        "kafka_avro_roundtrip": connectors.kafka_avro_roundtrip,
        "kafka_glue_avro_roundtrip": connectors.kafka_glue_avro_roundtrip,
        "kafka_sasl_roundtrip": connectors.kafka_sasl_roundtrip,
        "kafka_idempotent_roundtrip": connectors.kafka_idempotent_roundtrip,
        "kafka_txn_roundtrip": connectors.kafka_txn_roundtrip,
        "kafka_rpw_roundtrip": connectors.kafka_rpw_roundtrip,
        "stream_curation_to_iceberg": connectors.stream_curation_to_iceberg,
        "emb_knn_join_label": similarity.emb_knn_join_label,
        "emb_knn_sq8": pq.emb_knn_sq8,
        "jdbc_roundtrip": connectors.jdbc_roundtrip,
        "docs_minhash_lsh": llm_dedup.docs_minhash_lsh,
        "emb_dup_pairs": similarity.emb_dup_pairs,
        "emb_dup_pairs_rhlsh": similarity.emb_dup_pairs_rhlsh,
        "emb_dup_clusters": similarity.emb_dup_clusters,
        "stream_emb_dup_pairs": docstreams.stream_emb_dup_pairs,
        "rhlsh_bucket_stats": similarity.rhlsh_bucket_stats,
        "rhlsh_recall_stats": similarity.rhlsh_recall_stats,
        "ann_recall_stats": similarity.ann_recall_stats,
        "docs_dup_clusters": llm_dedup.docs_dup_clusters,
        "docs_dedup_report": llm_dedup.docs_dedup_report,
        "emb_outliers": llm_pruning.emb_outliers,
        "docs_ccnet_buckets": llm_pruning.docs_ccnet_buckets,
        "docs_lm_score": lm.docs_lm_score,
        "docs_heavy_hitters": llm_sketches.docs_heavy_hitters,
        "stream_heavy_hitters": docstreams.stream_heavy_hitters,
        "docs_pmi_bigrams": collocations.docs_pmi_bigrams,
        "docs_dsir_sample": dsir.docs_dsir_sample,
        "stream_agg_basic": events.stream_agg_basic,
        "stream_agg_basic_update": events.stream_agg_basic_update,
        "stream_win_tumbling": events.stream_win_tumbling,
        "stream_win_session": events.stream_win_session,
        "stream_win_ema": events.stream_win_ema,
        "stream_dedup_first": events.stream_dedup_first,
        "stream_dedup_sbf_check": events.stream_dedup_sbf_check,
        "stream_interval_join": events.stream_interval_join,
        "stream_asof_join": events.stream_asof_join,
        "stream_filter_by_control": events.stream_filter_by_control,
        # ---- end of the 50-key cap ----
        "agg_ema": events.agg_ema,
        "agg_emvar": events.agg_emvar,
        "agg_percentage": events.agg_percentage,
        "agg_histogram": events.agg_histogram,
        "agg_basic": events.agg_basic,
        "win_tumbling": events.win_tumbling,
        "win_sliding": events.win_sliding,
        "win_session": events.win_session,
        "win_ema": events.win_ema,
        "pivot_events": analytics.pivot_events,
        "rollup_sales": analytics.rollup_sales,
        "cube_sales": analytics.cube_sales,
        "dedup_first": events.dedup_first_q,
        "dedup_sbf": events.dedup_sbf_q,
        "dedup_sbf_check": events.dedup_sbf_check,
        "asof_join": events.asof_join_q,
        "filter_by_control": events.filter_by_control_q,
        "connected_union": events.connected_union,
        "topk_orders": analytics.topk_orders,
        "salted_supplier_rev": analytics.salted_supplier_rev,
        "q22_opportunity": analytics.q22_opportunity,
        "q2_mincost": analytics.q2_mincost,
        "q3_shipping": analytics.q3_shipping,
        "q4_priority": analytics.q4_priority,
        "q5_supplier": analytics.q5_supplier,
        "hll_users": events.hll_users,
        "distinct_users": events.distinct_users,
        "rabbitmq_roundtrip": connectors.rabbitmq_roundtrip,
        "stream_rabbitmq_roundtrip": connectors.stream_rabbitmq_roundtrip,
        "cassandra_roundtrip": connectors.cassandra_roundtrip,
        "kinesis_roundtrip": connectors.kinesis_roundtrip,
        "stream_kinesis_roundtrip": connectors.stream_kinesis_roundtrip,
        "kinesis_efo_roundtrip": connectors.kinesis_efo_roundtrip,
        "elasticsearch_roundtrip": connectors.elasticsearch_roundtrip,
        "firehose_roundtrip": connectors.firehose_roundtrip,
        "iceberg_hive_roundtrip": connectors.iceberg_hive_roundtrip,
        "hive_stats_roundtrip": connectors.hive_stats_roundtrip,
        "iceberg_s3_roundtrip": connectors.iceberg_s3_roundtrip,
        "iceberg_glue_roundtrip": connectors.iceberg_glue_roundtrip,
        "iceberg_nessie_roundtrip": connectors.iceberg_nessie_roundtrip,
        "iceberg_catalog_roundtrip": connectors.iceberg_catalog_roundtrip,
        "emb_knn_ivf_kmeans": similarity.emb_knn_ivf_kmeans,
        "emb_semantic_dedup_kmeans": similarity.emb_semantic_dedup_kmeans,
        "emb_knn_join": similarity.emb_knn_join,
        "emb_knn_pq": pq.emb_knn_pq,
        "enrich_events": events.enrich_events,
        "stream_enrich": events.stream_enrich,
        "q10_returned": analytics.q10_returned,
        "q11_important": analytics.q11_important,
        "q12_modes": analytics.q12_modes,
        "q13_custdist": analytics.q13_custdist,
        "q14_promo": analytics.q14_promo,
        "q15_topsupplier": analytics.q15_topsupplier,
        "q16_suppcnt": analytics.q16_suppcnt,
        "q17_smallqty": analytics.q17_smallqty,
        "q18_bigorders": analytics.q18_bigorders,
        "q19_brand": analytics.q19_brand,
        "q20_excess": analytics.q20_excess,
        "q6_forecast": analytics.q6_forecast,
        "q7_volume": analytics.q7_volume,
        "q8_market": analytics.q8_market,
        "iceberg_changelog_roundtrip": connectors.iceberg_changelog_roundtrip,
        "iceberg_column_evolution_roundtrip": (
            connectors.iceberg_column_evolution_roundtrip
        ),
        "iceberg_wap_roundtrip": connectors.iceberg_wap_roundtrip,
        "iceberg_add_files_roundtrip": connectors.iceberg_add_files_roundtrip,
        "avro_roundtrip": connectors.avro_roundtrip,
        "agg_quantiles": events.agg_quantiles,
        "q1_pricing": analytics.q1_pricing,
        "q9_profit": analytics.q9_profit,
        "q21_waiting": analytics.q21_waiting,
        "docs_dedup_exact": llm_dedup.docs_dedup_exact,
        "docs_stratified_sample": sampling.docs_stratified_sample,
        "docs_weighted_sample": sampling.docs_weighted_sample,
        "docs_pack_sequences": sampling.docs_pack_sequences,
        "docs_shuffle_shards": sampling.docs_shuffle_shards,
        "docs_mixture_weights": sampling.docs_mixture_weights,
        "docs_chunk": chunking.docs_chunk,
        "docs_chunk_dedup": chunking.docs_chunk_dedup,
        "emb_knn": similarity.emb_knn,
        "docs_cluster_assign": similarity.docs_cluster_assign,
        "emb_knn_ivf": similarity.emb_knn_ivf,
        "emb_dup_pairs_blas": similarity.emb_dup_pairs_blas,
        "emb_semantic_dedup": similarity.emb_semantic_dedup,
        "emb_decontaminate": similarity.emb_decontaminate,
        "docs_dup_spans": llm_spans.docs_dup_spans,
        "docs_remove_dup_spans": llm_spans.docs_remove_dup_spans,
        "stream_topk_ngrams": docstreams.stream_topk_ngrams,
        "iceberg_spec_evolution_roundtrip": (
            connectors.iceberg_spec_evolution_roundtrip
        ),
        "iceberg_roundtrip": connectors.iceberg_roundtrip,
        "iceberg_pruned_scan": connectors.iceberg_pruned_scan,
        "iceberg_upsert_roundtrip": connectors.iceberg_upsert_roundtrip,
        "iceberg_incremental_roundtrip": (
            connectors.iceberg_incremental_roundtrip
        ),
        "iceberg_stream_roundtrip": connectors.iceberg_stream_roundtrip,
        "iceberg_delete_roundtrip": connectors.iceberg_delete_roundtrip,
        "iceberg_transform_roundtrip": connectors.iceberg_transform_roundtrip,
        "iceberg_transform_pruned": connectors.iceberg_transform_pruned,
        "stream_dedup_sbf": events.stream_dedup_sbf,
        "stream_win_sliding": events.stream_win_sliding,
        "stream_hll_users": events.stream_hll_users,
        "stream_win_tumbling_append": events.stream_win_tumbling_append,
        "stream_win_sliding_append": events.stream_win_sliding_append,
        "stream_win_session_append": events.stream_win_session_append,
        "docs_bpe_encode": llm_bpe.docs_bpe_encode,
        "docs_topk_ngrams": llm_vocab.docs_topk_ngrams,
        "docs_tfidf": llm_vocab.docs_tfidf,
        "mm_features": mm_transforms.mm_features,
        "mm_resize": mm_transforms.mm_resize,
        "docs_decontaminate": curation.docs_decontaminate,
        "docs_pii_redact": curation.docs_pii_redact,
        "docs_repetition": curation.docs_repetition,
        "mm_meta": multimodal.mm_meta,
        "mm_frames": multimodal.mm_frames,
        "docs_ngram_jaccard": llm_dedup.docs_ngram_jaccard,
        "docs_simhash": llm_dedup.docs_simhash,
        "docs_lsh_stats": llm_dedup.lsh_bucket_stats,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle for each queries() key; keys absent here (dedup_sbf
    and friends — probabilistic/stateful) get the driver's rows-only
    check. hll_users IS exactly oracled: the md5-based register pipeline
    is deterministic and its float sums are order-independent."""
    return dict(ORACLES)
