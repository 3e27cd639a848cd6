"""Dump `.explain("formatted")` for every declared query to PLANS.md.

Run after adding or changing operators: the physical plan IS the performance
contract (pushed filters, pruned columns, broadcast vs shuffle joins,
TakeOrderedAndProject vs global sort). The hand-written review notes at the
top of PLANS.md record what each plan MUST look like; this dump lets a round
diff catch plan regressions the same way tests catch result regressions.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

import __spark_entry__ as entrymod  # noqa: E402
from educational_vector_database_spark.session import get_spark  # noqa: E402

HEADER = """# Physical plans (generated by tools/dump_plans.py at sf0.01)

## Review notes — what to look for (hand-written, update when plans change)

| Query | Required plan property | Status |
|---|---|---|
| `knn_cosine` | `TakeOrderedAndProject` (per-partition top-k heap, no global sort); scan reads only `vec_id,embedding` | OK |
| `filter_then_knn` | `PushedFilters: EqualTo(label,3)` reaches the parquet scan | OK |
| `knn_join_topk` | broadcast of the (tiny) query side — `BroadcastNestedLoopJoin`; per-query top-k via window, no cross-shuffle of the corpus | OK |
| `knn_lsh_bucket` | bucket predicate evaluated scan-side (Filter directly over scan, no shuffle before top-k) | OK |
| `ivf_cells` | pure Project over scan — centroid assignment shuffles nothing | OK |
| `tpch_q1_pricing` | shipdate `PushedFilters`; partial+final `HashAggregate` around one Exchange | OK |
| `orders_by_nation` | nation join is `BroadcastHashJoin`; only customer/orders shuffle | OK |
| `dedup_exact` | single Exchange on the 8-byte fingerprint, map-side partial agg | OK |
| `dedup_minhash` | one mapInPandas (`ArrowEvalPython`/`MapInPandas`) for signatures; candidate generation via one groupBy Exchange, no self-join double-scan | OK |
| `neardup_embedding` | block pairs via small `BroadcastNestedLoopJoin` over packed blocks; scoring inside `MapInPandas` | OK |
| `events_sessionize` | single Exchange on user_id feeding both the lag window and the session agg (sort reused) | OK |
| `neardup_embedding_bucketed` | bucket id computed scan-side; block-pair join is an EQUI-join on (bkt) — `SortMergeJoin`/`ShuffledHashJoin` keyed by a small int, never a global cross join | OK |
| `dedup_simhash` | band keys are shift/mask int exprs over the packed int64 signature; verify is one `bit_count(xor)`; distinct shuffles only (id_a, id_b, hamming) ints | OK |
| `store_roundtrip` | read-back scan + one partial/final HashAggregate pair — the write is the only extra job | OK |
| `ivf_assign` (library) | pure `Project` over scan (array_min over struct literals): NO Exchange, NO Window — asserted in tests/test_ann.py | OK |
| `lineitem_q6_forecast` | ALL filters in `PushedFilters` (shipdate range, discount band, quantity); `ReadSchema` = exactly the 4 referenced columns | OK |
| `tpch_q9_profit` | 3 `BroadcastHashJoin` dims; exactly ONE `Exchange` (the final group-by) — asserted in tests/test_plans.py | OK |
| `docs_kmv_distinct` | k smallest hashes via `TakeOrderedAndProject` (per-partition heap), NOT a global sort of the shingle set | OK |
| `docs_vocab_topk` | partial `HashAggregate` map-side before the Exchange; final top-50 via `TakeOrderedAndProject` | OK |
| `events_dedup_consecutive` | ONE Exchange on user_id feeds the lag window; the groupBy re-aggregates only (event_type, kept) ints | OK |
| `dedup_survivors` | minhash plan unchanged (one MapInPandas); CC joins keyed on id with `localCheckpoint` lineage truncation between rounds | OK |
| `docs_contamination` | split membership = scan-side hash predicates on pair endpoints — no join against split frames | OK |
| `events_sliding` | window fan-out (4 slide offsets) expands BELOW the partial HashAggregate: one Exchange of (window, type) partial sums — asserted in tests/test_plans.py | OK |
| `customers_without_orders` | `BroadcastHashJoin ... LeftAnti` with the date filter in `PushedFilters` — asserted | OK |
| `events_cube` | `Expand` (4 grouping sets) feeds the partial aggregate scan-side; ONE Exchange — asserted | OK |
| `events_funnel` | 3 same-key `Window` nodes + per-user agg reuse ONE hash partitioning; 2nd Exchange is the single-row final count — asserted | OK |
| `events_latest_per_user` | partial (Sort)Aggregate of max-of-struct BEFORE the Exchange: one candidate per (partition, key) crosses the wire — asserted | OK |
| `events_value_tiers` | `BroadcastNestedLoopJoin` for the interval predicate; fact side never shuffles for the join — asserted | OK |
| `tpch_q3_shipping` | segment/date filters in `PushedFilters`; NO forced customer broadcast (unbounded at scale — AQE decides at runtime); top-10 via `TakeOrderedAndProject` — asserted | OK |
| `knn_ivf_recall` | one shared pairs subplan (broadcast query side) feeds BOTH rankings; windows keyed on qid | OK |
| `docs_tfidf_keywords` | only the 1-row N aggregate is broadcast-hinted; vocabulary-sized df joins without a hint (AQE decides); tf pass shuffles once on (doc_id, tok) | OK |
| `stream_events_sessionize` | `FlatMapGroupsInPandasWithState` with ONE Exchange on user_id (state op, not a batch window) | OK |
| `neardup_brp_lsh` | candidate pairs via OR-ed hash-bucket equi-joins (MLlib explode + shuffle on hash values), NEVER an all-pairs product; true-distance post-filter | OK |
| `doc_repetition_stats` | two explode → (doc, gram) partial-agg → per-doc agg chains; every Exchange keyed on doc/gram, no global window | OK |
| `events_user_tier_scd2` | lag window, running-sum window, per-run agg, and lead window all share ONE Exchange on user_id — asserted in tests/test_plans.py | OK |
| `docs_boilerplate_chunks` | regexp chunker (codegen'd), equi-joins only (no cartesian/NL fallback), both scans pruned to (doc_id, source, text) — asserted | OK |
| `docs_term_redaction` | ONE pruned (text, source) scan, ONE Exchange (the per-source aggregate) — asserted | OK |
| `neardup_triangles` | simhash edge list persisted once (the triple self-join would re-derive it per alias); triangle joins are equi-joins on 8-byte ids — asserted | OK |
| `tpch_q14_promo` | part broadcasts; ONE fact Exchange (the month aggregate); lineitem scan pruned to 4 columns — asserted | OK |
| `docs_curation_pipeline` | one linear plan: fp-window Exchange + final (lang, split) Exchange, nothing else; split is a label column so the scan runs ONCE — asserted | OK |
| `events_markov_transitions` | user_id window Exchange → (prev, next) count → bounded 5×5 window for the ppm denominators | OK |
| `stream_events_attribution` | streaming symmetric hash join: both sides Exchange on user_id once, state bounded by the ±30 min interval + watermark | OK |
| `docs_bigram_logprob` | (doc, bigram) counts persisted (3 consumers would triple-evaluate the explode); model totals via a window over the <= 1369-row model frame; logp joins back broadcast | OK |
| `store_compact_roundtrip` | compaction is one repartition job; rename-aside swap; read-back scan + one aggregate pair | OK |
| `stream_events_late_drop` | two checkpointed availableNow runs; run 2's late rows dropped against the persisted watermark (guaranteed path) | OK |
| `docs_pack_sequences` | running-sum windows PARTITIONED by the md5 shard — one Exchange on shard, no global sort (lint-tested: global-order windows are allowlisted) | OK |
| `store_roundtrip_orc` | ORC write job + read-back scan feeding one partial/final HashAggregate pair; array column stays native (no to_json hop) | OK |
| `docs_length_quantiles_approx` | exact + sketch percentiles in ONE aggregate pass (single scan); production keeps the sketch arm only — same shape minus the sort | OK |
| `embeddings_random_projection` | pure Project over the scan (16 integer aggregate exprs in whole-stage codegen): NO Exchange, NO UDF | OK |
| `knn_rp_recall` | one shared pair frame (broadcast query side) feeds BOTH rankings; windows keyed on qid | OK |
| `ivf_train_step` | assignment is scan-side argmin (no Exchange); update is partial-aggregable column sums — only K×65 longs cross the ONE Exchange | OK |
| `tpch_q5_local_volume` | o_orderdate range in `PushedFilters`; exactly 2 forced broadcasts, both bounded dims (region, region-filtered nation); fact joins AQE-decided — asserted | OK |
| `events_anomaly_zscore` | unordered window + per-type re-agg share ONE hash partitioning on event_type (single Exchange — asserted) | OK |
| `events_purchasers_semi` | LeftSemi join — no payload from the build side, no row duplication on the probe side; purchaser keyset broadcast is AQE's call | OK |
| `docs_source_except` | distinct on 8-byte fingerprints BEFORE the except; every shuffle carries fingerprints only | OK |
| `docs_length_quantiles_by_lang` | per-group percentile sort under ONE Exchange on lang — no global ordering | OK |
| `docs_pagerank_neardup` | per round ONE join + ONE groupBy keyed on the 8-byte id; edge list is the near-dup output, never the corpus; lineage truncated per round | OK |
| `events_unpivot` | `stack` is a Generate directly over the pivot aggregate — NO extra Exchange beyond the pivot's own | OK |
| `docs_quality_weighted_sample` | ONE scan with conditional aggregates (keep predicate evaluated inline) — no filter-then-rescan, single Exchange on lang | OK |
| `events_retention_cohorts` | one fact scan; min-day and cohort-cell aggregates both partial-aggregable; user-cardinality cohort frame joins back without a forced broadcast | OK |
| `dedup_containment` | inverted-index posting equi-join (same shape as dedup_ngram), no forced broadcasts, never a cross join | OK |
| `knn_join_ivf` | equi-join on centroid_id prunes candidates to one cell per query; windows keyed on query_id | OK |
| `orders_running_total` | running sum partitioned by o_custkey: one Exchange, per-partition sort — never a global window | OK |
| `tpch_q10_returns` | returnflag + date range in `PushedFilters`; per-customer aggregate BEFORE the customer join; nation broadcast bounded; top-20 TakeOrderedAndProject | OK |
| `stream_store_upsert` | foreachBatch is stateless (zero streaming state — the store IS the state); per-batch plan is the batch MERGE's broadcast-anti-join shape | OK |
| `docs_bloom_membership` | build = ONE bit_or groupBy with map-side partial OR (≤n_words rows shuffle); probe joins the bounded filter as a broadcast | OK |
| `events_value_histogram` | scan-side bucket expression into one partial+final HashAggregate pair — single Exchange of ≤15 bucket rows | OK |
| `events_value_winsorized` | 1-row percentile aggregate broadcast back into a second single-Exchange pass; clipped mean all-integer; value projection cached (2 consumers) | OK |
| `dedup_minhash_capped` | same signature/band shuffle as dedup_minhash; over-cap buckets expand to O(bucket) min-id STAR structs inside the same bucket aggregate — no extra Exchange | OK |
| `dedup_incremental` | one-sided: delta-bands × capped corpus-bands equi-join, fingerprint equi-join (corpus pre-aggregated to one row per fp), best-match window on new_id — equi-joins only, asserted in tests/test_plans.py | OK |
| `neardup_embedding_incremental` | bucket ids scan-side on both sides; candidates via equi-join on the small-int bucket; verify is the codegen cosine HOF; per-bucket corpus cap via ONE row_number window on bkt | OK |
| `ivf_train_converged` | per Lloyd round: scan-side argmin + ONE Exchange of K×65 longs, localCheckpoint truncates lineage between rounds (bounded plan depth) | OK |
| `knn_ivf_rebalanced` | maintenance rehearsal: MLlib KMeans jobs per oversized cell (bounded by the census), reassignment touches ONLY split cells; verification probe = exhaustive TakeOrdered over the persisted assignment | OK |
| `stream_dedup_ingest` | foreachBatch stateless (store = state); per-batch plan is dedup_incremental's one-sided shape + an append write — no streaming state store | OK |
| `pq_codes` | one codegen'd Project over the scan — 128× compression of the corpus is a single pass, no shuffle, no Python | OK |
| `knn_pq_adc` | ADC = element_at over an 8×16 literal table keyed by shift/mask nibbles of the packed BIGINT; top-k via TakeOrderedAndProject, vector column never read after encode | OK |
| `knn_pq_rerank` | ADC shortlist (code exprs only) → left-semi on vec_id → exact cosine over ~shortlist rows → TakeOrderedAndProject | OK |
| `knn_ivfpq` | cell assign + residual encode scan-side; probed-cells filter before ADC; per-cell ADC is a CASE over nprobe literal tables; with codes on disk the probe is PartitionFilters(centroid_id) + ReadSchema(vec_id,pq_code) — asserted in tests/test_pq.py | OK |
| `knn_join_pq` | each query carries its ADC table as a scan-side array column; per-query shortlist is a WindowGroupLimit (map-side partial top-k before the Exchange); rerank joins shortlist ids back to vectors | OK |
| `knn_join_ivfpq` | probed-query side (query × nprobe rows, each with its residual ADC table) ships as a BROADCAST; candidate join is BroadcastHashJoin on the probed cell (plan-asserted in tests/test_plans.py); corpus side reads only (vec_id, centroid_id, pq_code) | OK |
| `knn_ivfpq_recall` | same serving plan joined against the exact brute-force top-k (broadcast of 20 queries, window top-k) — the eval is joins end to end, no per-query driver loop | OK |
| `bq_codes` | one codegen'd Project of 64 sign comparisons — 64× compression in a single pass, no shuffle, no Python | OK |
| `knn_hamming` | popcount(code XOR literal) + TakeOrderedAndProject over the code projection; ZERO Exchanges (plan-asserted in tests/test_plans.py) | OK |
| `knn_hamming_rerank` | Hamming shortlist (codes only) → left-semi on vec_id → exact cosine over ~shortlist rows → TakeOrderedAndProject | OK |
| `knn_join_hamming` | query side broadcasts with scan-side-encoded codes; pair distance is one popcount; per-query shortlist = WindowGroupLimit; rerank reads ~shortlist vector rows (plan-asserted) | OK |
| `knn_bq_asym` | shortlist by the 64-term per-bit conditional chain (codes only, TakeOrderedAndProject) → left-semi → exact rerank; same scan bytes as Hamming, recall 0.875 vs 0.615 | OK |
| `knn_ivf_hamming` | probed-cells filter before the popcount shortlist — candidates are nprobe/n_cells of the corpus at 8 B/row; exact rerank of shortlist rows | OK |
| `search_mmr_diverse` | broadcast queries×corpus relevance seed (the only join) + per-query top-pool window, ONE groupBy(query) collect_list of the pool, then the k greedy steps as projections of higher-order functions over that row and one posexplode — no selection join, no Union, no cartesian (plan-asserted) | OK |
| `rag_context_diverse` | the MMR fold over the chunk+embed pipeline; context collapsed via array_sort-inside-collect_list (selection-rank order, shuffle-safe) | OK |
| `search_bm25` | one token scan; tf filtered to the query's terms BEFORE aggregation (never vocabulary-sized); |Q|-row df broadcasts; integer DIV per (doc, term) | OK |
| `search_hybrid_bm25` | BM25 leg + vector leg, each TakeOrdered top-50; fusion join is 50×50 on doc_id; micro-int rank arithmetic | OK |
| `search_doc_maxsim` | chunk scoring scan-side; per-doc window picks the arg-best chunk; TakeOrdered tail | OK |
| `stream_encode_ingest` | foreachBatch stateless: delta encode = one codegen'd projection + 16 B/row append; no streaming state store | OK |
| `rag_context_budget` | bounded top-20 candidates → ONE running-sum window (ROWS UNBOUNDED PRECEDING) → filtered aggregate; no iteration | OK |
| `docs_leakage_safe_split` | dedup_survivors' pair-mining + CC plan plus a pure projection (md5 bucket of cluster_id); split is a function of the cluster — no extra shuffle | OK |
| `dedup_semantic` | cluster assignment scan-side (array_min over centroid literals, no Exchange); pair mining = block-GEMM equi-join keyed on centroid_id (MapInPandas, never a row-level cross join); keep-rule Window partitions by cluster_id — asserted in tests/test_plans.py | OK |
| `docs_mixture_sample` | ONE corpus aggregate for group totals + a SinglePartition global sum; the O(groups) rate table returns as `BroadcastHashJoin`; keep verdict is a scan-side md5 predicate — every Exchange is on `source` or SinglePartition, asserted | OK |
| `dedup_spans` | shingling is a scan-side Generate; the ONLY join is an equi-join on the 8-byte shingle fingerprint with minhash's max_posting cap (no cartesian, no BroadcastNestedLoop — asserted); islands window partitions by (pair, diagonal), bounded by doc length | OK |
| `docs_span_mask` | the dedup_spans islands core + an interval-union explode of covered positions (16 B/row, distinct on (doc, pos)); per-doc aggregates only — no new join shape | OK |
| `knn_ivf_filtered` | both predicates (cell membership + metadata) evaluated scan-side before any scoring; exact top-k via TakeOrderedAndProject over the doubly-pruned scan | OK |

Regenerate with: `python tools/dump_plans.py`
"""


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(shuffle_partitions=16)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [HEADER]
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {e}"
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
