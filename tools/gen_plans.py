"""Regenerate PLANS.md — captured physical-plan evidence for the
scale-relevant properties of the headline query plans (column pruning,
filter pushdown, broadcast vs shuffle joins).

    python tools/gen_plans.py > PLANS.md
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from gem_data_wrangle_spark import get_spark  # noqa: E402

CASES = {
    "agg_sum_groups": "flagship grouped sums — partial aggregation then one exchange",
    "filter_isin": "status whitelist — predicate reaches the scan as an In() filter",
    "gem_coal_pipeline": "full pipeline — 2 of 9 orders columns read; year filter pushed below the aggregation, above the year explode; the harmonize window and the location-grain group-sum share ONE location shuffle",
    "gem_total_consolidation": "consolidation — surrogate-id dim and emission factors broadcast",
    "expand_years": "year expansion — narrow explode(sequence), no join, no exchange before the sink",
    "minhash_lsh_pairs": "LSH banding — narrow signature computation; the only exchanges are the candidate equi-join and final distinct",
    "similarity_bruteforce": "brute-force top-k — probe side broadcast, corpus streamed once",
    "join_fallback_chain": "two-level fallback — both dimension sides broadcast, fact never shuffles",
    "asof_join_events": "as-of join — tag-union + carry-forward window, ONE key shuffle, no triangular self-join",
    "range_join_prices": "interval join — bin fan-out + equi-join + exact post-filter, no BroadcastNestedLoopJoin",
    "sessionize_events": "batch sessionization — lag and running-sum share one Window operator",
    "pack_documents": "sequence packing — bucketed cumulative sum, no global sort",
    "semdedup": "semantic dedup — within-cell equi-self-join (no all-pairs), digest-sized anti-join back",
    "chunk_documents": "token-window chunking — narrow explode(sequence)+slice, map-only to the sink",
    "normalized_dedup": "canonicalized dedup — regex chain + md5 inside the partial aggregate, digests shuffle",
    "json_extract_props": "JSON extraction — get_json_object inside codegen, aggregate-pushed",
    "weighted_sample": "weighted sampling — narrow integer-compare filter, no shuffle",
    # round 4
    "tfidf_top_terms": "TF-IDF — document frequency via partial-agg groupBy(term) + join-back (skew-safe default; no window over the open term domain)",
    "gem_total_consolidation_all8": "all-8-fuel consolidation capstone — eight pipelines union into surrogate ids + steel merge + EF fallback; dims broadcast",
    "ml_brp_join_verified": "portable-vs-ml BRP intersection — sign-LSH bucket equi-join, no cartesian; ml side amplified to 16 tables",
    # round 5
    "repetition_signals": "repetition signals — explode → groupBy(doc, unit) with map-side partial combine, per-doc re-agg, AQE join-back; no window over open-domain units",
    "shared_substring_pairs": "exact-substring candidates — winnowed fingerprints, df-gate BEFORE the equi-self-join (boilerplate fan-out capped), digest-keyed shuffles; the registered form materializes (r17 fingerprint persist), so the LAZY plan below comes from materialize=False",
    # round 6
    "duplicate_spans": "span merge — positioned fingerprints, countDistinct df-gate, per-doc lag window bounded by the longest document; the registered form materializes (r17 fingerprint persist), so the LAZY plan below comes from materialize=False",
    "cut_duplicate_spans": "span cut — gap/tail segments, substring join, per-doc ordered concat; documents without spans pass through a left join; spans input audited lazy (materialize=False) so the cut plan stays visible past the r17 checkpoint",
    "c4_filters": "C4 cleaning — pure per-row array algebra (split/filter/array_join) inside one codegen stage; ZERO exchanges before the sink",
    "corpus_shuffle": "deterministic shuffle — md5 key + monotone range-bucket shard; ONE hash exchange on the shard column, in-partition sort",
    "kmeans_assign": "k-means assignment — centroids inlined as a literal array, per-row argmin via transform/aggregate; ZERO exchanges, no join",
    "dedup_lines": "line dedup — digest-keyed first-occurrence min-struct aggregate; short lines bypass the shuffle entirely",
    "mixture_rebalance": "mixture rebalance — narrow group filter, (group, bucket)-keyed cumulative window, budget comparison; totals collect is |groups| rows",
    "kmeans_lloyd": "Lloyd k-means scoring pass — fitted centroids inlined as a literal (training already folded to model-sized driver state); ZERO exchanges, no join",
    "unigram_logprob": "unigram-LM scoring — explode → vocab-keyed partial-combine count, frequency join-back, per-doc re-agg; corpus stats broadcast as one row",
    "bm25_rank": "BM25 — query-term filter lands right after the explode so only matching postings shuffle; doc lengths aggregated once, stats broadcast",
    "lm_quality_cut": "perplexity cut — unigram scoring plan + a ONE-ROW percentile cutoff broadcast into the filter; the scoring subplan feeds BOTH branches (2 passes unless the caller persists scores)",
    "dsir_logweights": "DSIR weights — two explode→groupBy bucket counts; the ≤4096-row lambda table BROADCASTS into the per-doc sum no matter the corpus size",
    "dsir_resample": "DSIR selection — the weights plan + md5-Gumbel key + global top-k planning as TakeOrderedAndProject (per-partition heaps, no full sort)",
    "pq_encode": "PQ encode — per-subspace argmin over LITERAL codebooks: narrow, zero exchanges before the sink, whole-stage codegen",
    "pq_topk_adc": "PQ ADC top-k — per-probe LUT over literal codebooks, probes broadcast, corpus streams its code column; one window shuffle for the per-probe top-k",
    "blocked_domains": "domain blocklist — exploded parent chain SEMI-joins the BROADCAST blocklist; the corpus-side anti-join is AQE-sized, never nested-loop",
    "boilerplate_removal": "corpus boilerplate removal — posexplode lines, digest-keyed frequency + anti-join, per-doc ordered reassembly",
    "geo_radius_join": "geo radius join — latitude-aware neighbor-cell explode + ONE cell equi-join + exact haversine; never a cross join",
    "resample_events": "time-series resample — per-key span agg, grid explode, union + ONE carry-forward window shuffle",
    "orders_upsert": "upsert — anti-join (keys broadcast when small) + union",
    "scd2_history": "SCD2 — lag + running change-count + interval agg + lead over ONE key-partitioned shuffle chain",
    "host_pagerank": "PageRank (final iteration) — edges⋈ranks shuffle join + groupBy(dst) partial sum; N and dangling mass are 1-row BROADCAST frames, no driver collect",
    "rolling_event_sums": "trailing time-window sums — ONE key shuffle, native sliding RANGE frame over integer-µs ordering",
    "heavy_hitter_keys": "heavy hitters (exact-verify pass) — isin candidate filter pushed to the scan, partial-combined count over ≤pool keys",
    "exact_jaccard_pairs": "exact Jaccard join — df pass + rarity-prefix explode + ONE prefix equi-join + set-fetch verify; no cartesian, hot tokens never join",
    "cosine_pairs": "TF-IDF cosine pairs — partial-combined tf/df aggs, ONE posting equi-join, (id_a,id_b)-keyed partial-combined dot sums, norm join-back",
    # round 7
    "cdc_chunks": "CDC chunking — Rabin-Karp rolling hash in vectorized numpy inside ONE narrow mapInPandas; zero exchanges before the sink",
    "char_entropy": "char entropy — per-row array_sort + run-length aggregate fold; ZERO exchanges, linear in corpus bytes",
    "ngram_decontaminate": "decontamination — shingle scans both sides, eval side DISTINCT + broadcastable, md5-keyed LEFT SEMI + per-doc count + join-back",
    "event_zscores": "rolling z-scores — ONE key shuffle; 20-row ROWS frame is bounded window state, sums over exact integer cents",
    "event_funnel": "K-step funnel — per-step filtered min-aggregates chained by shrinking per-key joins (AQE broadcasts them); no per-key history collection",
    "rollup_sum_groups": "ROLLUP — single Expand + ONE hash aggregate with map-side partials; subtotals cost no extra exchange",
    "pivot_event_values": "stated-domain pivot — one conditional sum per value inside a SINGLE hash aggregate (not RelationalGroupedDataset.pivot's two)",
    "group_value_quantiles": "exact group percentiles — rank window and finishing conditional-max groupBy REUSE one hash partitioning; single exchange total",
    "cohort_retention": "cohort triangle — first-event agg and distinct activity co-partition on the key; join broadcasts; bounded weeks² output",
    "hll_distinct_counts": "HLL sketch — (group, register)-keyed max with map-side combine: ≤64 rows/group through the exchange regardless of cardinality",
    "event_transitions": "Markov transitions — lag-1 window (one row of state), |types|² pair aggregate, prev-total window on the tiny frame",
    "zorder_keys": "Z-order keys — bounded min/max agg broadcast back, static 32-term shift/and/or interleave; narrow, codegen",
    "pairwise_corr": "deterministic corr — ONE hash aggregate, six exact longs per (partition, group) through the exchange",
    "impute_median": "median imputation — quantile pass (one exchange) + BROADCAST join-back of the one-row-per-group medians",
    "winsorized_values": "winsorization — same single-exchange quantile pass + broadcast clamp bounds",
    "mp4_probe": "MP4 probe — ONE narrow mapInPandas box-tree walk; cost independent of mdat size",
    "rrf_hybrid_rank": "RRF fusion — two rank windows + full-outer id join; fixed-order two-term reciprocal sum, no aggregate",
    "salted_enrich": "salted join — full-row-hash salt on the probe side, num_salts× replicated build side, (key, salt) equi-join",
    "cube_sum_groups": "CUBE — single Expand (2^k fan-out collapses in the partial agg) + ONE exchange",
    "table_checksum": "table checksum — md5 prefix sum with map-side partials; the exchange carries ONE partial per partition",
    "orders_diff": "keyed diff — digest-only full-outer join; 16-byte digests through both exchanges, never whole rows",
    "mean_pool_embeddings": "chunk mean-pool — ONE group shuffle; collect bounded by chunks/doc, ordered sequential fold",
    # round 8
    "mp4_sample_offsets": "MP4 sample-table demux — ONE narrow mapInPandas stbl walk, per-id min-offset window partitioned BY ID (bounded state)",
    "bloom_pruned_join": "bloom-pruned join — word-packed bitset built small-side, k BROADCAST probes (no fact exchange), exact join only on bit-survivors",
    "key_skew_profile": "skew profile — partial-combined key counts, 1-row total broadcast, TakeOrderedAndProject head; no unbounded single-partition stage",
    "temperature_mixture": "temperature mixture targets — one grouped count + 1-row total broadcast; sqrt/decimal integer algebra, no window",
    "temperature_resample_counts": "applied temperature resample — per-DOMAIN rank window (bounded partitions) + broadcast target join + count",
    "neardup_keep_best": "quality-aware near-dup survivor — LSH candidates + closure + per-component rank window on the clustered MINORITY (no winners frame, no forced broadcast), LEFT ANTI finish",
    # round 9
    "host_triangles": "triangle counting — degree-ordered orientation caps out-degree at O(sqrt m); wedge + closing-edge hash joins, 3-row explode, ONE count aggregate",
    "sketch_quantiles": "histogram-quantile sketch — one scan to |groups|x n_bins counts, cumulative window over <=n_bins-row partitions, finishing aggregate",
    "constraint_report": "constraint validation — ALL row-local rules in ONE scan+aggregate; unique adds a key aggregate, foreign_key one counted anti-join",
    "windowed_distinct_users": "windowed distinct — window-assign + dropDuplicates + count: two shuffles keyed on (window, group[, key]), no per-reducer distinct sets",
    "event_cooccurrence": "co-occurrence lift — per-key pair self-join (fan-out = items-per-key choose 2), marginals join, 1-row key-count broadcast",
    "heavy_hitters_batch": "heavy hitters batch mirror — shard expr + partial-combined counts + per-shard rank window over bounded partitions",
    "incremental_daily_totals": "incremental aggregates — two partial hash aggregates union + ONE merge aggregate over summary rows, raw data scanned once per partial",
    "exif_probe": "TIFF/EXIF probe — ONE narrow mapInPandas IFD walk, cost independent of pixel data",
    "privacy_audit": "k-anonymity — ONE hash aggregate to quasi-tuple counts + bounded finishing aggregate",
    "golden_user_profile": "golden record — ONE partial-combined max_by aggregate; only per-field champions cross the shuffle, never row history",
    "gif_metadata": "GIF demux — ONE narrow mapInPandas block walk; sub-block chains skipped, not copied",
    "doc_readability": "readability — pure regex + integer algebra inside codegen; ZERO exchanges before the sink",
    "kn_doc_scores": "KN bigram LM — ONE persisted bigram-count frame feeds model + continuation + type count; model join-back, per-doc exact integer sum",
    "scd2_segment_lookup": "point-in-time SCD2 join — key equi-join + interval post-filter; per-fact fan-out = version count, <=1 survivor by the non-overlap contract",
    "conversion_attribution": "last-touch attribution — asof union + carry-forward window, ONE key shuffle, tolerance null-out",
    "kmv_distinct_users": "KMV sketch — distinct (group, hash) partial-agg + WindowGroupLimit per-group top-k; estimate from the k-th minimum only",
    "kmv_segment_overlap": "theta intersection — two bounded sketches hash-join on h, 1-row thetas broadcast; everything <=k rows after the sketches",
    "simhash_pairs": "SimHash Hamming-ball pairs — narrow signature pass (repartitioned off the 1-file local input), (band, value) explode, ONE band equi-join + distinct, fixed 32-term verify in codegen; the registered form materializes via localCheckpoint (cache-release contract), so the LAZY plan below comes from dedup._simhash_pairs_lazy",
    "mad_outlier_flags": "MAD outliers — two rank-window median passes (one exchange each, groupBy reuses the partitioning), 5-row med/MAD frames broadcast back, integer-compare gate",
    "host_communities": "label propagation — per round ONE neighbor-label hash join + (node, label) partial-combined count + max_by vote; lineage checkpoint-truncated, last round lazy",
    "jl_sketch": "JL +-1 projection — sign matrix as a broadcast one-row relation (r11 A/B: beats 1024 plan literals), ONE narrow projection, no shuffle before the sink",
    "host_assortativity": "degree assortativity — symmetrize + degree agg + two node-id hash joins + ONE global partial-combined six-sum aggregate",
    "rank_normalized_values": "rank normalization — rank/count windows share ONE group exchange; everything after is row-local integer floors",
    "containment_screen": "containment screening — k-slot signatures narrow, ONE (slot, hash) equi-join, pair-count partial agg; never all-pairs",
    "ewma_event_values": "EWMA — ONE key-window exchange; 30-element frame fold inside codegen, decimal floor finish",
    "host_pagerank_weighted": "weighted PageRank — per round one edges-ranks hash join + weighted-share partial agg; 1-row dangling/N scalars broadcast",
    "cm_user_counts": "Count-Min — depth-row explode + ONE partial-combined cell aggregate; probe join broadcast-sized by construction (width*depth cells)",
    "benford_audit": "Benford audit — ONE partial-combined digit aggregate to <=9 rows/group + broadcast-sized totals join",
    "bmp_metadata": "BMP probe — narrow mapInPandas header walk, cost per file not per pixel",
    # round 12
    "neardup_dedup": "end-to-end near-dup removal — repartitioned narrow minhash signature pass (the round-12 single-partition fix), band equi-join candidates, checkpoint-truncated CC closure, LEFT ANTI finish against the small loser set",
    "lang_id": "script-routed language ID — 12 regexp_count passes + stopword votes, all one narrow projection inside whole-stage codegen; zero exchanges before the sink",
    "nfc_canonical_hashes": "Unicode NFC canonicalization — deterministic decomposition injection in codegen, ONE Arrow mapInPandas normalization pass, md5 finish; narrow end to end",
    "host_k_core": "k-core 3-peel — per round ONE partial-combined degree aggregate + two anti-joins of the shrinking edge set against the AQE-broadcastable peel frontier; rounds are checkpoint-truncated, so the captured plan is the FINAL degree aggregate over the last checkpointed edge set",
    "fwf_roundtrip_orders": "fixed-width roundtrip — text sink + CSV-routed distributed header skip, quote handling off, narrow substring/try_cast projection, ONE partial-combined group aggregate",
    "host_hits": "HITS 2 fixed rounds — per round two edges⋈scores equi-joins each feeding a partial-combined grouped sum (the Pregel profile); authority rounds checkpoint-truncated, so the captured plan is the LAST hub round + final |V|-sized join",
    "audio_frame_energy": "windowed audio frames — synth mapInPandas + frame mapInPandas back to back, both Arrow; narrow end to end, zero exchanges before the sink",
    "vad_speech_segments": "VAD segment merge — integer threshold filter on the frame table, lag + running-sum sharing ONE per-id window partition, partial-combined groupBy finish",
    "image_dhash_hashes": "image dHash — synth mapInPandas + decode+hash mapInPandas, both Arrow; narrow end to end, zero exchanges before the sink",
    "image_neardup_pairs": "banded Hamming pairs — shift/mask band explode in codegen, ONE (band, value) equi-self-join + distinct, fixed bit_count(xor) verify; never all-pairs",
    "image_neardup_components": "image near-dup removal capstone — dHash pairs (the plan above) feed the min-label CC closure; rounds checkpoint-truncated, so the captured plan is the final component-map aggregate + survivor flag",
    # round 13
    "rle_compression_bound": "RLE repetition bound — char-array split + two slice views zipped for boundary flags, exact-integer floor division; one narrow projection, zero exchanges before the sink",
    "neardup_incremental": "incremental near-dup screening — batch signature pass (narrow), ONE (band, signature) equi-join vs the index, LEFT ANTI on the small matched-id set, unionByName index extension; the registered form materializes (round-14 contract), so the LAZY plan below comes from materialize=False",
    "image_neardup_incremental": "incremental Hamming screening — two dHash Arrow passes, pigeonhole band explode both sides, ONE (_bi, _bv) equi-join + exact bit_count verify, LEFT ANTI + index union; registered form materializes (round-14), LAZY plan below from materialize=False",
    # round 14
    "embedding_neardup_incremental": "incremental cosine screening, raw index — two narrow bucket projections, ONE bucket LEFT SEMI with the exact-cosine verify folded into the join condition (round-14 early-exit form), LEFT ANTI + index union; LAZY plan from materialize=False",
    "embedding_incremental_sig": "incremental cosine screening, persisted-signature index — the index side is a plain (id, vec, norm, bucket) scan with NO bucket recompute (the round-14 flat-curve shape); same LEFT SEMI + LEFT ANTI, updated index stays in signature shape; LAZY plan from materialize=False",
    # round 16
    "ivfpq_topk": "IVF+PQ composed ANN — ONE BroadcastHashJoin on the cell id (probe LUTs broadcast, corpus never shuffles), codebooks as broadcast model frames (never expression literals), ADC fold inside codegen; the only hash exchange is the per-probe top-k window",
}

INTERESTING = (
    r"FileScan|PushedFilters|Exchange|BroadcastExchange|SortMergeJoin|"
    r"BroadcastHashJoin|HashAggregate\(keys|Generate|Window|"
    r"TakeOrderedAndProject|Filter production_year"
)


def main() -> None:
    spark = get_spark("plans")
    sf = "/root/testdata/sf0.01"
    qs = entrymod.queries()

    print("# PLANS — captured physical-plan evidence (sf0.01, AQE on)")
    print()
    print("Generated by `.explain` over `__spark_entry__.queries()`; regenerate with")
    print("`python tools/gen_plans.py`. Each section shows the scale-relevant")
    print("properties of the plan Catalyst produced: what reached the Parquet scan")
    print("(column pruning + filter pushdown), which joins broadcast, and where the")
    print("wide shuffles are.")
    print()

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")

    def frame_for(name):
        if name == "simhash_pairs":
            # the registered query's eager localCheckpoint cuts the
            # lineage (its explain is a bare RDD scan) — audit the
            # lazy plan the checkpoint materializes instead
            from gem_data_wrangle_spark.operators.dedup import (
                _simhash_pairs_lazy,
            )

            docs = entrymod._t(spark, sf, "documents").repartition(
                spark.sparkContext.defaultParallelism
            )
            pairs, sig = _simhash_pairs_lazy(docs, "text", "doc_id", 32, 2, 2)
            sig.unpersist()  # plan-only: nothing materialized
            return pairs
        if name in ("duplicate_spans", "shared_substring_pairs"):
            # r17 fingerprint materialize: the registered form's
            # explain is a checkpoint RDD scan — audit the lazy plan
            from gem_data_wrangle_spark.operators import dedup as D

            docs = entrymod._t(spark, sf, "documents")
            fn = (
                D.duplicate_spans
                if name == "duplicate_spans"
                else D.shared_substring_pairs
            )
            return fn(docs, "text", "doc_id", materialize=False)
        if name == "cut_duplicate_spans":
            from gem_data_wrangle_spark.operators import dedup as D

            docs = entrymod._t(spark, sf, "documents")
            spans = D.duplicate_spans(docs, "text", "doc_id", materialize=False)
            return D.cut_duplicate_spans(docs, spans, "text", "doc_id")
        if name == "neardup_incremental":
            # round-14 materialize contract: the registered form's
            # explain is a checkpoint RDD scan — audit the lazy plan
            from gem_data_wrangle_spark.operators import dedup as D
            from pyspark.sql import functions as F

            docs = entrymod._spread(spark, entrymod._t(spark, sf, "documents"))
            index = D.minhash_signatures(
                docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
            )
            _fresh, updated = D.neardup_against_index(
                docs.filter(F.col("doc_id") % 2 == 1), index,
                "text", "doc_id", materialize=False,
            )
            return updated
        if name == "image_neardup_incremental":
            from gem_data_wrangle_spark.operators import dedup as D
            from gem_data_wrangle_spark.operators import multimodal as M
            from pyspark.sql import functions as F

            media = entrymod._synth_dhash_media(spark, sf)
            hashes = M.image_dhash(media).select("id", "hash_hi", "hash_lo")
            in_index = (F.col("id") % 50 < 25) & (F.col("id") < 250)
            _fresh, updated = D.hamming_against_index(
                hashes.filter(~in_index), hashes.filter(in_index),
                "id", ["hash_hi", "hash_lo"], max_distance=4,
                materialize=False,
            )
            return updated
        if name in ("embedding_neardup_incremental", "embedding_incremental_sig"):
            from gem_data_wrangle_spark.operators import similarity as V
            from pyspark.sql import functions as F

            emb = entrymod._t(spark, sf, "embeddings")
            planes = V.hyperplanes(entrymod._LSH_PLANES, entrymod._LSH_DIM)
            index = emb.filter(F.col("vec_id") % 2 == 0)
            if name == "embedding_incremental_sig":
                index = V.embedding_index_signatures(
                    index, "embedding", "vec_id", planes
                )
            _fresh, updated = V.embedding_against_index(
                emb.filter(F.col("vec_id") % 2 == 1), index,
                "embedding", "vec_id", planes, threshold=0.4,
                materialize=False,
            )
            return updated
        return qs[name](spark, sf)

    for name, why in CASES.items():
        plan = frame_for(name)._jdf.queryExecution().explainString(mode)
        lines = plan.splitlines()
        keep = [ln.strip()[:160] for ln in lines if re.search(INTERESTING, ln)]
        n_ex = sum(1 for ln in lines if "Exchange hashpartitioning" in ln)
        n_bc = sum(1 for ln in lines if "BroadcastExchange" in ln)
        n_smj = sum(1 for ln in lines if "SortMergeJoin" in ln)
        print(f"## {name}")
        print()
        print(f"_{why}_")
        print()
        print(f"- shuffle exchanges: {n_ex}; broadcast exchanges: {n_bc}; sort-merge joins: {n_smj}")
        print("```")
        seen: set[str] = set()
        shown = 0
        for ln in keep:
            key = re.sub(r"#\d+L?", "#_", ln)[:100]
            if key in seen:
                continue
            seen.add(key)
            shown += 1
            if shown > 14:
                break
            print(ln)
        print("```")
        print()

    # operators without a registered driver query — same plan evidence,
    # built directly on the testdata tables
    from pyspark.sql import functions as F  # noqa: PLC0415

    from gem_data_wrangle_spark.operators.asof import resample_timeseries  # noqa: PLC0415
    from gem_data_wrangle_spark.operators.geo import points_within_radius  # noqa: PLC0415
    from gem_data_wrangle_spark.operators.joins import fuzzy_dim_match  # noqa: PLC0415
    from gem_data_wrangle_spark.operators.kernels import scd2_from_snapshots  # noqa: PLC0415
    from gem_data_wrangle_spark.operators.textops import remove_boilerplate_lines  # noqa: PLC0415
    from gem_data_wrangle_spark.sources.io import read_ns_timestamp_parquet  # noqa: PLC0415

    cust = spark.read.parquet(f"{sf}/customer.parquet")
    supp = spark.read.parquet(f"{sf}/supplier.parquet")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    events = read_ns_timestamp_parquet(spark, f"{sf}/events.parquet", ["ts"])
    pts = cust.select(
        F.col("c_custkey"),
        (F.col("c_acctbal") % 80 - 40).alias("lat"),
        (F.col("c_acctbal") % 340 - 170).alias("lon"),
    )
    extra = {
        "points_within_radius (geo.py)": (
            "grid-bucketed candidate equi-join + exact haversine — never a cross join",
            points_within_radius(
                pts.selectExpr("c_custkey AS id_a", "lat", "lon"),
                pts.selectExpr("c_custkey AS id_b", "lat", "lon"),
                radius_km=25.0,
            ),
        ),
        "fuzzy_dim_match (joins.py)": (
            "initial+length-band blocking → levenshtein verify; no cross join",
            fuzzy_dim_match(cust, supp, "c_name", "s_name"),
        ),
        "resample_timeseries (asof.py)": (
            "per-key grid explode + ONE carry-forward window shuffle",
            resample_timeseries(events, "user_id", "ts", ["value"], step="1 hour"),
        ),
        "scd2_from_snapshots (kernels.py)": (
            "lag-change grouping → validity intervals; windows share one key shuffle",
            scd2_from_snapshots(orders, ["o_custkey"], "o_orderdate", ["o_orderstatus"]),
        ),
        "remove_boilerplate_lines (textops.py)": (
            "line-digest frequency shuffle + anti-join + ordered reassembly",
            remove_boilerplate_lines(docs, "text", "doc_id"),
        ),
    }
    print("# Non-registry operators (pytest-evidenced) — same plan audit")
    print()
    for name, (why, df) in extra.items():
        plan = df._jdf.queryExecution().explainString(mode)
        lines = plan.splitlines()
        n_ex = sum(1 for ln in lines if "Exchange hashpartitioning" in ln)
        n_bc = sum(1 for ln in lines if "BroadcastExchange" in ln)
        n_cart = sum(1 for ln in lines if "CartesianProduct" in ln or "BroadcastNestedLoopJoin" in ln)
        print(f"## {name}")
        print()
        print(f"_{why}_")
        print()
        print(f"- shuffle exchanges: {n_ex}; broadcast exchanges: {n_bc}; cartesian/nested-loop joins: {n_cart}")
        print()


if __name__ == "__main__":
    main()
