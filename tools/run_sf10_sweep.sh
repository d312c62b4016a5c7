#!/bin/bash
# sf10 oracle sweep (round-5 ask #1): the full 50-row registry vs DuckDB at
# the deterministic 100x scale-up (tools/make_sf10.py), sharded across 4
# processes bin-packed by projected cost (sf1 timings x10) so the sweep's
# wall time is ~1h instead of ~4h serial. The three O(n^2)-oracle all-pairs
# rows run on the deterministic 1% subset (tools/make_sf10_subset.py), same
# policy as the sf1 sweep. Merge with tools/merge_sf1_report.py afterwards.
set -u
cd "$(dirname "$0")/.."
REPO=$PWD
SF10=$REPO/testdata_sf10
# see run_sf10_solo.sh: DuckDB jemalloc VMA exhaustion at the kernel's
# default vm.max_map_count looks exactly like an OOM at tiny block sizes
if [ "$(cat /proc/sys/vm/max_map_count)" -lt 1048576 ]; then
  sysctl -w vm.max_map_count=2097152 \
    || echo "WARN: could not raise vm.max_map_count; big mirrors may bad_alloc" >&2
fi
SUB=$REPO/testdata_sf10/subset
# five shards run at once, so each gets a fixed DuckDB budget rather than
# check_oracle's one-process default (40% of RAM each would overcommit)
export ORACLE_CORES=8 ORACLE_DUCK_THREADS=8 SPARK_DRIVER_MEMORY=14g
export ORACLE_DUCK_MEM=${ORACLE_DUCK_MEM:-20GB}

S1="parsers_syslog_time dedup_clusters dedup_exact dedup_minhash_lsh"
S2="ann_sign_lsh ottl_xml_suite tailsampling_policies metricstransform_full"
S3="text_stats_suite span_processor ottl_converters_misc parsers_web otlpjson_slowsql sequence_packing ann_cosine_topk"
S4="attributes_processor groupbytrace_processor parsers_structured ottl_field_ops metrics_temporal attributes_extract_convert redaction_processor transform_ottl field_transformers logstransform_chain streaming_windowed_counts text_decontamination dataset_split logdedup_processor multimodal_suite enrichment_suite config_pipeline_yaml spanmetrics_exponential formatter_suite probabilistic_sampler groupbyattrs_processor pipeline_events interval_processor unroll_processor recombine_sessions metricsgeneration_processor count_sum_connectors servicegraph_connector routing_suite connector_metrics spanmetrics_connector filter_processor"
SSUB="dedup_simhash dedup_ngram_jaccard dedup_embedding_cosine"

ORACLE_SF_DIR=$SF10 ORACLE_JSON=/tmp/sf10_s1.json python tools/check_oracle.py $S1 > /tmp/sf10_s1.log 2>&1 &
ORACLE_SF_DIR=$SF10 ORACLE_JSON=/tmp/sf10_s2.json python tools/check_oracle.py $S2 > /tmp/sf10_s2.log 2>&1 &
ORACLE_SF_DIR=$SF10 ORACLE_JSON=/tmp/sf10_s3.json python tools/check_oracle.py $S3 > /tmp/sf10_s3.log 2>&1 &
ORACLE_SF_DIR=$SF10 ORACLE_JSON=/tmp/sf10_s4.json python tools/check_oracle.py $S4 > /tmp/sf10_s4.log 2>&1 &
ORACLE_CORES=4 ORACLE_SF_DIR=$SUB ORACLE_JSON=/tmp/sf10_sub.json python tools/check_oracle.py $SSUB > /tmp/sf10_sub.log 2>&1 &
wait
echo "all shards done"
