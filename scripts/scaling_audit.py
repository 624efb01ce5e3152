#!/usr/bin/env python3
"""Scaling-ratio audit (SCALING_rN.json): time the most expensive /
shape-riskiest keys at sf0.1 and at the 10x datasets make_scale10.py
synthesizes, and publish per-key time ratios.

Why: every 100 TB claim in the repo is plan-shape asserted (PlanGuard
specs, bounded-state arguments) but had never been empirically scaled —
an accidental O(n^2) hiding under sf0.1's small constants shows up
immediately as a ratio far above the data factor.

Two axes (see make_scale10.py): WIDE (10x series/docs/vectors/orders,
the realistic fact-table growth) and LONG (10x history per series, the
stress axis for the O(bars^2) pair folds and O(m^2) fold-state arrays).

Reading the ratios: 10x data -> a linear key should land <= ~15x (10x
work plus log factors and fixed overheads; very fast keys are
overhead-dominated and can land well UNDER 10x). The audit flags
anything above the threshold for per-key explanation in the artifact.

Usage: python3 scripts/scaling_audit.py [round_tag] [--axes a,b,...]
Runs sbt per axis (baseline subset + scaled subset); each run is a full
Bench session (pre-build, per-key warmups, median of 3). `--axes`
restricts to the named axes (re-pointing one curve without re-running
the hour-long full audit); merge the partial JSON into the round
artifact by hand.
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.1"
WIDE = "/tmp/scale10_wide"
LONG = "/tmp/scale10_long"
THRESHOLD = 15.0

WIDE_KEYS = [
    # events: indicator folds, diagnostics, sessionization
    "rsi_wilder", "stochastic_k", "supertrend", "adx_daily", "acf_lags",
    "kendall_trend", "theil_sen", "ccf_market", "cusum_changepoint",
    "holt_linear", "seasonal_decompose", "ohlc_resample", "hll_cardinality",
    "event_transitions", "sessionize",
    # documents: the dedup/corpus heavyweights
    "dedup_minhash_lsh", "dedup_cluster", "dedup_containment",
    "doc_logprob_bigram", "bm25_topk", "dedup_simhash", "tfidf_top_terms",
    "bpe_pair_counts",
    # embeddings
    "embed_pca_power", "ann_cosine_topk", "embed_cosine_dup",
    # cluster-blocked pair ops: the gate pins the corpus-sized head
    # codebook (k = max(16, ceil(n/256))), so pair volume must stay
    # ~n*256 — a fixed-k codebook would show up here as ~100x at 10x
    "semdedup_prune", "knn_graph", "semantic_clusters", "semantic_weights",
    "knn_graph_indexed",
    # the same-shaped siblings (stats/indexed twins re-run the same
    # cluster-blocked pair join or read the persisted artifact): audit
    # them directly rather than arguing coverage-by-sibling
    "semdedup_stats", "semdedup_indexed", "semantic_cluster_stats",
    "semantic_weights_indexed",
    # lineitem
    "q1_pricing_summary", "vwap_monthly",
    # persisted-artifact probes (builds land in the untimed pre-build;
    # the measured figure is the probe, which scales with the artifact)
    "rsi_wilder_indexed", "bm25_indexed", "embed_neardup_indexed",
    # the incremental-maintenance family: batch-sized work against the
    # corpus-sized artifact — the keys whose whole point is NOT scaling
    # with the corpus
    "dedup_lsh_incremental", "dedup_containment_incremental",
    "dedup_cluster_incremental", "embed_neardup_incremental",
    "media_phash_incremental", "ann_ivf_incremental",
    "semdedup_incremental", "semantic_admission_ingest",
    # r14: the write-back family (upserts are batch-sized merges against
    # the corpus-sized artifact) and the retrained/two-level probes
    # (builds land in the untimed pre-build; the probe is partition-
    # pruned and must not scale with the corpus)
    "cluster_upsert_stats", "semantic_upsert_stats",
    "ann_retrained_probe", "ann_ivf_twolevel",
    "ann_ivf_twolevel_incremental", "ann_ivf_twolevel_retrained",
    # r15: the FACTORED semantic family (same pair joins over the
    # two-level assignment — n*2*sqrt(k)*d instead of n*k*d) and the
    # compacted-index probe (build+tombstone+compact in the untimed
    # pre-build; the probe must scale with live rows only)
    "semdedup_twolevel", "semantic_clusters_twolevel",
    "semantic_weights_twolevel", "knn_graph_twolevel",
    "dedup_lsh_compacted",
]

LONG_KEYS = [
    "acf_lags", "kendall_trend", "theil_sen", "cusum_changepoint",
    "holt_linear", "holt_winters", "macd_daily", "supertrend",
    "seasonal_decompose",
]


def run_bench(sf_dir, keys):
    # the caller's core count, else this host's: a local[N] wider than
    # the machine times thread contention, not scaling
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    subprocess.run(
        ["sbt", "-batch", f"runMain graft.Bench {','.join(keys)}"],
        cwd=REPO, env=env, check=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(os.path.join(REPO, "BENCH_LATEST.json")) as f:
        rec = json.loads(f.read())
    if rec.get("errors"):
        print(f"  bench errors at {sf_dir}: {rec['errors']}", file=sys.stderr)
    return rec["queries"], rec.get("errors", {})


def audit(axis, sf_keys, scaled_dir, threshold=THRESHOLD, base_dir=SF):
    print(f"[audit] baseline {axis}: {len(sf_keys)} keys at {base_dir}")
    base, base_err = run_bench(base_dir, sf_keys)
    print(f"[audit] scaled {axis}: {scaled_dir}")
    scaled, scaled_err = run_bench(scaled_dir, sf_keys)
    out = {}
    for k in sf_keys:
        if k in base_err or k in scaled_err:
            out[k] = {"error": base_err.get(k) or scaled_err.get(k)}
            continue
        b, s = base.get(k), scaled.get(k)
        ratio = (s / b) if b and b > 0 else None
        out[k] = {"base_sec": round(b, 3), "scaled_sec": round(s, 3),
                  "ratio": round(ratio, 2) if ratio else None,
                  "flag": bool(ratio and ratio > threshold)}
    return out


def knn_block_volume(dirs):
    """Candidate-pair GEOMETRY for the cluster-blocked keys (knn_graph,
    semdedup, semantic_clusters): replay the head-codebook assignment in
    DuckDB (the ivf_assign_flat oracle) per corpus and report per-list
    sizes' sum of squares — the block pair volume the timing SHOULD
    track. Reading geometry directly separates a genuinely superlinear
    candidate set from session contention in a timing row (the r14
    knn_graph 11.75x-at-10x vs 6.75x-at-30x non-curve).
    """
    import duckdb
    out = {}
    for name, d in dirs.items():
        con = duckdb.connect()
        q = f"""
        WITH cb AS (SELECT rn - 1 AS list_id, cent FROM (
            SELECT row_number() OVER (ORDER BY vec_id) AS rn,
              CAST(embedding AS DOUBLE[]) AS cent
            FROM '{d}/embeddings.parquet')
          WHERE rn <= (SELECT greatest(16, CAST(ceil(count(*) / 256.0) AS BIGINT))
                       FROM '{d}/embeddings.parquet')),
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM '{d}/embeddings.parquet'),
        ad AS (SELECT ev.vec_id, cb.list_id,
          list_reduce(list_prepend(0.0, list_transform(
            generate_series(1, least(len(ev.v), len(cb.cent))),
            i -> (ev.v[i] - cb.cent[i]) * (ev.v[i] - cb.cent[i]))),
            (a, b) -> a + b) AS d2
          FROM ev CROSS JOIN cb),
        asg AS (SELECT vec_id, list_id FROM (
          SELECT vec_id, list_id,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rn
          FROM ad) WHERE rn = 1),
        sz AS (SELECT list_id, count(*)::BIGINT AS n FROM asg GROUP BY 1)
        SELECT count(*)::BIGINT, sum(n)::BIGINT, max(n)::BIGINT,
               sum(n * n)::BIGINT FROM sz"""
        lists, n, mx, ss = con.execute(q).fetchone()
        con.close()
        out[name] = {"n_vectors": n, "n_lists": lists, "max_list": mx,
                     "pair_volume_sum_sq": ss}
    rats = {}
    if "base" in out and "wide10" in out:
        rats["wide10_vs_base"] = round(
            out["wide10"]["pair_volume_sum_sq"] / out["base"]["pair_volume_sum_sq"], 2)
    if "wide10" in out and "wide30" in out:
        rats["wide30_vs_wide10"] = round(
            out["wide30"]["pair_volume_sum_sq"] / out["wide10"]["pair_volume_sum_sq"], 2)
    out["pair_volume_ratios"] = rats
    return out


def main():
    argv = sys.argv[1:]
    only = None
    if "--axes" in argv:
        i = argv.index("--axes")
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2:]
    tag = argv[0] if argv else "r11"
    result = {"data_factor": 10, "threshold": THRESHOLD}
    axes_spec = {
            "wide": lambda: {"dir": WIDE, "note": "10x series/docs/vectors/orders, history unchanged",
                     "keys": audit("wide", WIDE_KEYS, WIDE)},
            "long": lambda: {"dir": LONG, "note": "10x history per series (bars 30->300), series unchanged",
                     "keys": audit("long", LONG_KEYS, LONG)},
            # third-point curve for the two round-11 documented
            # superlinear keys (verdict item #9): 30x data, threshold
            # scaled to 1.5x the factor like the 10x axes
            "long30": lambda: {"dir": "/tmp/scale30_long", "data_factor": 30,
                       "note": "30x history per series (bars 30->900) — third points: "
                               "kendall (Fenwick curve) and holt_winters (seasonal ring "
                               "walk; 3.42x at 10x was r12's highest unflagged long ratio)",
                       "keys": audit("long30", ["kendall_trend", "holt_winters"],
                                     "/tmp/scale30_long", threshold=45.0)},
            # the media banding crossover, MEASURED at a realistic
            # ~1.5% dup rate (r12 item: the only audit point was the
            # dup-saturated gate corpus, where collision multiplicity
            # 120/group swamps the banding geometry): each scheme
            # forced on the same corpus — chunk-8's 8-bit buckets go
            # quadratic with corpus size while 3-of-10 combo keys
            # (22-bit) stay bounded, so at 10x docs chunk should blow
            # past the threshold and combo should stay well under it
            "wide_media": lambda: {"dir": WIDE,
                           "note": "10x docs, realistic ~1.5% media dup rate — "
                                   "chunk vs combo banding crossover, per scheme",
                           "keys": audit("wide_media",
                                         ["media_phash_realistic_chunk",
                                          "media_phash_realistic_combo"], WIDE)},
            "wide30_docs": lambda: {"dir": "/tmp/scale30_docs", "data_factor": 30,
                            "note": "30x docs (decorrelated copies) — simhash candidate-density third point",
                            "keys": audit("wide30_docs", ["dedup_simhash"],
                                          "/tmp/scale30_docs", threshold=45.0)},
            # r13 verdict item #5: third points for the two highest
            # unflagged wide ratios (bm25_topk 7.84x, knn_graph 5.73x at
            # 10x) — the kendall lesson: two points can't separate a log
            # factor from a hidden square
            "wide30_curves": lambda: {"dir": "/tmp/scale30_wide", "data_factor": 30,
                              "note": "30x docs/vectors — third points for bm25_topk and "
                                      "knn_graph (highest unflagged 10x wide ratios)",
                              "keys": audit("wide30_curves", ["bm25_topk", "knn_graph"],
                                            "/tmp/scale30_wide", threshold=45.0)},
            # the flat-vs-two-level ASSIGNMENT ceiling, measured between
            # 10x-wide and 30x-wide (3x data, BOTH above the k = 16
            # clamp, so the exponents read clean): flat is n*k*d — flop
            # ratio (60000*235)/(20000*79) ≈ 8.9x ≈ 3² (the SURVEY §5
            # quadratic ceiling, demonstrated not flagged; threshold
            # above it) — while the factored pass is n*2*sqrt(k)*d —
            # expected ≈ 3^1.5 ≈ 5.3x (above ~7x would mean the
            # factoring failed); a LINEAR op would read ~3x
            "assign_flat_3x": lambda: {"dir": "/tmp/scale30_wide", "data_factor": 3,
                               "base_dir": WIDE,
                               "note": "flat assignment n*k*d under k ∝ n, 10x-wide -> 30x-wide: "
                                       "expected ~9x for 3x data (the quadratic ceiling reading)",
                               "keys": audit("assign_flat_3x", ["ivf_assign_flat"],
                                             "/tmp/scale30_wide", threshold=15.0,
                                             base_dir=WIDE)},
            "assign_twolevel_3x": lambda: {"dir": "/tmp/scale30_wide", "data_factor": 3,
                                   "base_dir": WIDE,
                                   "note": "two-level assignment n*2*sqrt(k)*d, same corpora: "
                                           "expected ~5.3x ≈ 3^1.5 (the escape)",
                                   "keys": audit("assign_twolevel_3x", ["ivf_assign_twolevel"],
                                                 "/tmp/scale30_wide", threshold=7.0,
                                                 base_dir=WIDE)},
            # r15: third point for the FACTORED SEMANTIC curve — the
            # whole semdedup pass (factored assignment + within-list
            # pairs) between 10x-wide and 30x-wide: pairs are linear
            # under k ∝ n (~3x) and the factored assignment is ~3^1.5
            # ≈ 5.3x, so the blend must land in [3x, 5.3x]; above 7x
            # would mean the semantic routing fell off the factored
            # curve
            "semantic_twolevel_3x": lambda: {"dir": "/tmp/scale30_wide", "data_factor": 3,
                                   "base_dir": WIDE,
                                   "note": "factored semdedup (assignTwoLevel + pair join), "
                                           "10x-wide -> 30x-wide: expected in [3x, 5.3x]",
                                   "keys": audit("semantic_twolevel_3x", ["semdedup_twolevel"],
                                                 "/tmp/scale30_wide", threshold=7.0,
                                                 base_dir=WIDE)},
            # r15: knn_graph's timing rows read contention as easily as
            # geometry (the r14 11.75x-at-10x vs 6.75x-at-30x
            # non-curve) — so read the GEOMETRY directly: the
            # head-codebook block sizes' sum of squares IS the
            # candidate-pair volume the timing should track.
            # r16 NOTE RECONCILED with the shipped blockPartitioned fix:
            # the in-query block repartition is now CONDITIONAL on scan
            # parallelism (skipped when the assignment plan already has
            # >= shuffle-width partitions), so the at-scale cost the r15
            # note warned about -- one corpus-wide exchange the persisted
            # twins never pay -- is no longer paid at true scale, while
            # the one-file mid-scale plan-flip fix is retained
            # (spec: OperatorsSpec 'block repartition is conditional').
            "knn_block_geometry": lambda: {
                "note": "DuckDB replay of the head-codebook assignment per corpus: "
                        "per-list pair volume sum(n^2) — the work the blocked pair "
                        "keys' timing should track. base (sf0.1, 2000 vectors) sits "
                        "UNDER the k=16 clamp (125/list vs the 256 target), so "
                        "wide10/base reads ~20x BY DESIGN (measured 20.32) — "
                        "base-anchored timing ratios for knn_graph/semdedup "
                        "legitimately exceed the 10x data factor; the clean "
                        "exponent is wide30/wide10 (both unclamped): 3.01x at 3x "
                        "data = linear under k ∝ n, exactly the SemDeDup contract",
                "keys": {},
                "geometry": knn_block_volume({"base": SF, "wide10": WIDE,
                                              "wide30": "/tmp/scale30_wide"})},
    }
    if only:
        axes_spec = {a: fn for a, fn in axes_spec.items() if a in only}
    path = os.path.join(REPO, f"SCALING_{tag}.json")
    result["axes"] = {}
    # --axes refreshes a subset IN PLACE: preload the existing artifact
    # so untouched axes (and any hand-added notes) survive the merge
    if only and os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        result.update({k: v for k, v in prev.items() if k != "flagged"})
        result["axes"] = prev.get("axes", {})
    for a, fn in axes_spec.items():
        result["axes"][a] = fn()
        # checkpoint after EVERY axis: an hour of timing must never
        # evaporate to a crash in a later axis or in the summary code
        with open(path, "w") as f:
            json.dump(result, f, indent=1)
    flags = [(a, k) for a, ax in result["axes"].items()
             for k, v in ax.get("keys", {}).items() if v.get("flag")]
    result["flagged"] = [f"{a}:{k}" for a, k in flags]
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(f"[audit] wrote {path}; flagged: {result['flagged']}")


if __name__ == "__main__":
    main()
