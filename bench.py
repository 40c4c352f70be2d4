"""Benchmark harness (driver contract): times every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full materialization through the `noop` sink (all
columns computed, nothing collected to the driver), which is the honest
cost of the plan — `count()` would let Catalyst prune the payload columns.

Round 12 (r11 verdict #1): the round-11 driver run timed out (rc=124)
inside the optional scaling decades, leaving NO parsable record despite a
green suite.  The harness is now budgeted:

  * The PRIMARY sf0.1 record (full line + compact summary) is printed the
    moment the suite and the baseline-RF comparison finish — before any
    optional decade — so even a hard kill leaves the headline JSON on
    stdout.
  * Every optional phase (sf0.001 warmup, sf0.01 re-suite, sf1 pass, sf2
    pass, halves probes) is gated on a wall-clock budget,
    SPARK_GRAFT_BENCH_BUDGET seconds (default 2400 — well under any
    plausible driver limit; r10's full run was estimated ~1 h and r11's
    slightly larger one was killed).  Phases and queries dropped by the
    budget are RECORDED in the output ("budget" key), never silent.
  * The canonical committed run (SPARK_GRAFT_BENCH_COMMIT=1) should set
    SPARK_GRAFT_BENCH_BUDGET=100000 so BENCH_LOCAL.json keeps full decade
    coverage for SCALE.md.

Round 12 (r11 verdict #6): when the sf2 step flags a query superlinear,
the bench itself now runs the split-probe replica-halves decomposition
(tools/split_probe.py protocol: the sf2 dataset is 20 independent
key-strided replicas, so a linear plan's two sf1-sized halves sum to
~2x the sf1 time) and records `halves_ratio` next to the flag — the
linearity evidence rides in the JSON, not in SCALE.md prose.

Round 12 (r11 verdict #8): sub-5s queries report the MIN of 3 shots
(previously median-of-3) — the same estimator as the heavy class — and
the full record carries a per-query `spread` (max/min) annotation, so
host-variance smear (snapshot_diff 0.55->2.06 s with no code change)
stops reading as cross-round regression.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1).rstrip(".")) if m else -1.0


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far (cache hits are
    not counted)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


class Budget:
    """Wall-clock budget for the whole bench process.  `left()` is the
    remaining allowance; phases check it before starting and per-query
    inside their loops, and record anything they drop."""

    def __init__(self, total: float) -> None:
        self.total = total
        self.t0 = time.monotonic()
        self.dropped: dict[str, object] = {}

    def elapsed(self) -> float:
        return time.monotonic() - self.t0

    def left(self) -> float:
        return self.total - self.elapsed()

    def record(self) -> dict:
        return {
            "limit_sec": self.total,
            "elapsed_sec": round(self.elapsed(), 1),
            "dropped": self.dropped,
        }


def run_suite(
    spark,
    entrymod,
    sf_dir: str,
    retime_under: float = 5.0,
    budget: Budget | None = None,
    reserve: float = 0.0,
    phase: str = "",
) -> tuple[dict[str, float], dict[str, str], dict[str, float], dict[str, int]]:
    """Time every registered query; queries finishing under
    ``retime_under`` seconds run three times, heavier queries twice —
    both classes report the MIN (round 12; one estimator everywhere so
    cross-round diffs compare plan cost, not host variance — the median
    policy measured a 1.4-1.9x smear on sub-2 s queries with no code
    change).  The max/min spread per query is returned as the third
    element for the full committed record, and the number of classes
    codegen compiled during the query's timed shots as the fourth.
    When ``budget`` is given, the loop stops once remaining budget falls
    under ``reserve`` and records the dropped names."""
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    spread: dict[str, float] = {}
    compiles: dict[str, int] = {}
    items = list(entrymod.queries().items())
    for qi, (name, fn) in enumerate(items):
        if budget is not None and budget.left() < reserve:
            budget.dropped[phase or sf_dir] = [n for n, _ in items[qi:]]
            break
        if qi and qi % 10 == 0:
            # Reclaim dead localCheckpoint blocks from earlier queries
            # BEFORE timing the next batch: the ContextCleaner only acts
            # after a JVM GC, and accumulated residue evicts live storage
            # mid-measurement (2 s -> 27 s on an unrelated query,
            # measured). Outside the timed window, so it costs the bench
            # nothing it should be charging to queries.
            spark.sparkContext._jvm.System.gc()
        try:
            c0 = codegen_compiles(spark)
            samples: list[float] = []
            for _ in range(3):
                t0 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                samples.append(time.perf_counter() - t0)
                if samples[0] >= retime_under and len(samples) == 2:
                    break
            timings[name] = round(min(samples), 2)
            spread[name] = round(max(samples) / max(min(samples), 1e-3), 2)
            compiles[name] = codegen_compiles(spark) - c0
        except Exception as exc:  # noqa: BLE001 — record, keep benching
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
    return timings, failures, spread, compiles


def _emit(out: dict, timings: dict[str, float], summary: dict) -> None:
    """Print the full record followed by the compact summary line, and
    write it to the committed file.  The printed line carries every
    field of the file (the full per-query map, ``spread`` and
    ``compiles``) plus ``queries_top10``, the ten slowest, and
    ``queries_full``, the file's name.  The summary always goes LAST,
    so a reader that keeps only a bounded tail of stdout still gets it."""
    bench_name = (
        "BENCH_LOCAL.json"
        if os.environ.get("SPARK_GRAFT_BENCH_COMMIT") == "1"
        else "BENCH_LOCAL.out.json"
    )
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), bench_name),
        "w",
    ) as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    slow10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    stdout_out = dict(out, queries_top10=slow10, queries_full=bench_name)
    print(json.dumps(stdout_out), flush=True)
    print(json.dumps(summary), flush=True)


def main() -> int:
    import __spark_entry__ as entrymod
    from yellowrush_spark_ml_pipeline_spark.session import get_spark

    budget = Budget(float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "2400")))
    spark = get_spark("yellowrush-bench")
    # Warm the JVM/codegen AND parquet-scan paths so the first measured
    # query isn't charged session startup or reader-class loading (region
    # is 5 rows — data-scale effects stay inside the measured queries).
    materialize(spark.range(1000).selectExpr("sum(id) as s"))
    materialize(spark.read.parquet(f"{SF_DIR}/region.parquet"))
    # Warm the Python-worker pool + Arrow path: workers are reused across
    # queries (spark.python.worker.reuse), so without this the first
    # pandas-UDF query alone is charged the whole pool spawn (~5 s).
    warm_df = spark.range(256).repartition(8)
    materialize(warm_df.mapInPandas(lambda it: it, warm_df.schema))
    # Codegen/JIT warm-up pass: run EVERY query once at the smallest SF
    # before any timing.  Whole-stage codegen compiles one class per
    # distinct generated source, and the session's codegen cache
    # (session.CODEGEN_CACHE_ENTRIES, 8192) holds the whole registry's
    # ~3.8k sources, so every class the warm-up compiles is still cached
    # when the timed suite reaches it.  A query's `compiles` count in the
    # record is therefore 0 unless its timed plan generates code the
    # warm-up's did not (a different join strategy at the larger scale)
    # or its generated code differs from run to run.
    # Without this pass each heavy query's single timed shot is charged
    # its own one-time compiles (measured ~4 s of the exact-IVF query's
    # 7 s), which is JVM startup cost, not plan cost — and it lands
    # unevenly (fast queries get min-of-3, heavy queries don't).  One
    # uniform pass for all queries, no per-query special-casing;
    # data-scale effects stay inside the measured runs because sf0.001 is
    # ~1% of the measured decade. Disable with SPARK_GRAFT_WARMUP_DIR="".
    # Budget: the warmup may spend at most 30% of the allowance — the
    # primary suite is the record and must always run in full.
    warmup_dir = os.environ.get(
        "SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001"
    )
    if warmup_dir and os.path.isdir(warmup_dir):
        witems = list(entrymod.queries().items())
        for wi, (_name, fn) in enumerate(witems):
            if budget.elapsed() > 0.3 * budget.total:
                budget.dropped["warmup"] = [n for n, _ in witems[wi:]]
                break
            if wi and wi % 10 == 0:
                spark.sparkContext._jvm.System.gc()
            try:
                materialize(fn(spark, warmup_dir))
            except Exception:  # noqa: BLE001 — warm-up never fails the bench
                pass

    suite_t0 = time.monotonic()
    timings, failures, spread, compiles = run_suite(spark, entrymod, SF_DIR)
    suite_wall = time.monotonic() - suite_t0
    total = round(sum(timings.values()), 3)

    # Direct BASELINE.md comparison hook: the reference's only published
    # numbers are RF training time (70-80 s, 4-core/14 GB, 30% sample,
    # numTrees=30/maxDepth=8) and the model metrics. Time the same
    # reference-config fit on the preprocessed dataset here.  Runs BEFORE
    # the primary print so the headline summary carries it.
    baseline_cmp: dict[str, float] = {}
    try:
        from yellowrush_spark_ml_pipeline_spark.flows import preprocess_lineitem
        from yellowrush_spark_ml_pipeline_spark.ml import (
            evaluate_binary,
            train_classifier,
        )

        pre = preprocess_lineitem(spark, SF_DIR, encode=False)
        feats = [
            "ship_month",
            "ship_day_of_week",
            "ship_is_holiday",
            "l_quantity",
            "p_retailprice",
        ]
        t0 = time.perf_counter()
        model, _, test_df = train_classifier(
            pre, feats, "is_over_expected", sample_fraction=0.3
        )
        baseline_cmp["rf_train_sec"] = round(time.perf_counter() - t0, 3)
        metrics = evaluate_binary(model, test_df, "is_over_expected")
        baseline_cmp.update({k: round(v, 4) for k, v in metrics.items()})
    except Exception as exc:  # noqa: BLE001
        failures["baseline_rf"] = f"{type(exc).__name__}: {exc}"[:200]

    def build_out(scaling, scaling_sf1) -> tuple[dict, dict]:
        out = {
            "metric": "total_query_wall_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "spread": spread,
            "compiles": compiles,
            "sf": _sf_from_dir(SF_DIR),
            "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
            "n_queries": len(timings),
            "baseline_comparison": baseline_cmp,
            "budget": budget.record(),
        }
        if scaling is not None:
            out["scaling"] = scaling
        if scaling_sf1 is not None:
            out["scaling_sf1"] = scaling_sf1
        if failures:
            out["failures"] = failures
        summary = {
            "metric": "total_query_wall_seconds",
            "value": total,
            "unit": "sec",
            "sf": out["sf"],
            "n_queries": len(timings),
            "rf_train_sec": baseline_cmp.get("rf_train_sec"),
            "roc_auc": baseline_cmp.get("roc_auc"),
            "superlinear": scaling["superlinear"] if scaling else [],
            "superlinear_sf1": (scaling_sf1 or {}).get("superlinear"),
            "superlinear_sf2": (scaling_sf1 or {}).get("superlinear_sf2"),
            "sf2_halves_ratio": (scaling_sf1 or {}).get("halves_ratio"),
            "n_failures": len(failures),
            "budget_dropped": sorted(budget.dropped),
        }
        return out, summary

    # PRIMARY RECORD, printed before any optional decade (r11: the driver
    # killed the process mid-decade and the round had no bench number).
    out, summary = build_out(None, None)
    _emit(out, timings, summary)

    # Two-point scaling curve: re-run the suite at a smaller SF and report
    # per-query time ratios. A query scaling linearly in data shows a ratio
    # <= the data ratio (fixed per-job overhead pulls it far below at these
    # sizes); anything ABOVE the data ratio is flagged super-linear.
    # Disable with SPARK_GRAFT_SCALING_DIR="".  Budget: needs headroom for
    # roughly one more suite pass (sf0.01 is overhead-dominated, ~0.8x the
    # primary's wall); per-query deadline breaks inside run_suite.
    default_secondary = "/root/testdata/sf0.01" if "0.01" not in SF_DIR else ""
    scaling_dir = os.environ.get("SPARK_GRAFT_SCALING_DIR", default_secondary)
    scaling: dict | None = None
    sec_timings: dict[str, float] = {}
    if scaling_dir and budget.left() > 0.5 * suite_wall:
        sec_timings, sec_failures, _, _ = run_suite(
            spark, entrymod, scaling_dir,
            budget=budget, reserve=30.0, phase="sf0.01_suite",
        )
        data_ratio = _sf_from_dir(SF_DIR) / max(_sf_from_dir(scaling_dir), 1e-9)
        ratios = {
            q: round(timings[q] / max(sec_timings[q], 1e-3), 2)
            for q in timings
            if q in sec_timings
        }
        scaling = {
            "secondary_sf": _sf_from_dir(scaling_dir),
            "secondary_total": round(sum(sec_timings.values()), 3),
            "data_ratio": round(data_ratio, 2),
            "time_ratio": ratios,
            "superlinear": sorted(
                [q for q, r in ratios.items() if r > data_ratio]
            ),
        }
        if sec_failures:
            failures.update({f"scaling:{k}": v for k, v in sec_failures.items()})
    elif scaling_dir:
        budget.dropped["sf0.01_suite"] = "phase"

    # Third scaling point: a second measured decade (sf0.1 -> sf1) for the
    # heaviest queries, against the locally derived sf1 dataset
    # (tools/gen_sf.py). Only runs when the dataset's provenance matches
    # the LIVE testdata — the driver regenerates testdata each round, and
    # a ratio against a stale derivation would mislead.
    scaling_sf1: dict | None = None
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".localdata", "sf1"),
    )
    if sf1_dir and os.path.isdir(sf1_dir) and timings and budget.left() > 240:
        try:
            from tools.gen_sf import provenance

            recorded = json.load(open(os.path.join(sf1_dir, "provenance.json")))
            fresh = recorded["files"] == provenance(recorded["src"])
        except Exception:
            fresh = False
        if fresh:
            # Round 7: decade coverage widened 12 -> 25 so heavy queries
            # can't rotate out of the sf1 sample between rounds (k_core /
            # embedding_dedup_groups did exactly that after r5).
            heavy = sorted(timings, key=timings.get, reverse=True)[:25]
            qmap = entrymod.queries()
            sf1_timings: dict[str, float] = {}
            sf2_timings: dict[str, float] = {}
            sf1_paired2: dict[str, float] = {}
            sf01_paired: dict[str, float] = {}
            sf1_failures: dict[str, str] = {}
            # The scaling pass gets a FRESH SparkContext with shuffle
            # partitions sized to the DATA: (a) bytes-per-partition held
            # constant across decades — at 32 partitions the sf1 graph
            # shuffles hit GC-locker thrash (measured: triangles 198 s ->
            # 64 s at 10x partitions), AQE still coalesces small stages
            # down; (b) 188 prior queries age the JVM heap (dead block-
            # manager entries, checkpoint residue) and the same triangles
            # pass measured ~4x slower on the aged context than on a
            # fresh one — a scaling MEASUREMENT must not inherit that.
            prev_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            spark.stop()
            # Heap sized to the data decade, same principle as shuffle
            # partitions: the 12g default measures GCLocker thrash at
            # sf1/sf2 graph shuffles, not plan cost (triangles sf2:
            # 83.8 s at 12g vs 30.3 s at 28g, partitions unchanged).
            spark = get_spark(
                "yellowrush-bench-sf1",
                shuffle_partitions=prev_parts
                * int(recorded.get("factor", 10)),
                driver_mem=os.environ.get("SPARK_GRAFT_PROBE_MEM", "24g"),
            )
            dr = recorded.get("factor", 10)
            try:
                # Round 8: the decade ratio is PAIRED — both scales are
                # timed on THIS fresh context, back to back, so numerator
                # and denominator share warmth, heap age, and config.
                # (r7 divided a cold fresh-context sf1 time by the main
                # suite's warm median from the aged context, and the
                # warmth asymmetry alone produced a 14x "superlinear"
                # flag on triangles whose warm-vs-warm ratio is ~4x.)
                # Order per query: sf0.1 first (also warms codegen for
                # the plan shape), then sf1. A query whose first-shot
                # ratio exceeds the data ratio gets ONE more paired shot
                # and keeps the per-scale minima — real superlinear
                # scaling survives a warm re-run; residual JIT/GC noise
                # does not. No per-query special-casing anywhere.
                # Round 9: each scale is timed under ITS OWN shuffle-
                # partition config (runtime-settable, so the pair still
                # shares one fresh context/heap). r8 timed the sf0.1
                # denominator on the sf1-sized config, over-partitioning
                # the small run — an inflated t01 biases time_ratio DOWN,
                # masking exactly the superlinear signal the flag exists
                # to catch.
                sf1_parts = str(prev_parts * int(recorded.get("factor", 10)))

                def _shot(name: str, d: str, parts: str) -> float:
                    spark.conf.set("spark.sql.shuffle.partitions", parts)
                    t0 = time.perf_counter()
                    materialize(qmap[name](spark, d))
                    return time.perf_counter() - t0

                for qi, name in enumerate(heavy):
                    if budget.left() < 120:
                        budget.dropped["sf1_pass"] = heavy[qi:]
                        break
                    if qi and qi % 5 == 0:
                        spark.sparkContext._jvm.System.gc()
                    try:
                        t01 = _shot(name, SF_DIR, str(prev_parts))
                        t1 = _shot(name, sf1_dir, sf1_parts)
                        if t1 / max(t01, 1e-3) > dr:
                            t01 = min(t01, _shot(name, SF_DIR, str(prev_parts)))
                            t1 = min(t1, _shot(name, sf1_dir, sf1_parts))
                        sf01_paired[name] = round(t01, 2)
                        sf1_timings[name] = round(t1, 2)
                    except Exception as exc:  # noqa: BLE001
                        sf1_failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            finally:
                spark.stop()
                spark = get_spark("yellowrush-bench", shuffle_partitions=prev_parts)
            # Round 9: THIRD decade point (sf1 -> sf2, a 2x step) for the
            # top-10 heaviest — the step where single-box cache effects
            # can't hide a quadratic behind fixed overheads (r7's
            # containment hazard and r8's SRP hazard both showed up here
            # first). The sf2 pass gets its OWN fresh context (the first
            # cut reused the context aged by the full 25-query sf1 pass,
            # and checkpoint/heap residue alone tripled k_core's sf2
            # time); the 2x ratio is SELF-PAIRED inside that context —
            # sf1 re-shot under its config, then sf2 under its own — so
            # numerator and denominator share warmth exactly like the
            # 10x-step pairing above. sf1_paired2 records the
            # denominator actually used.
            sf2_dir = os.environ.get(
                "SPARK_GRAFT_SF2_DIR",
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    ".localdata",
                    "sf2",
                ),
            )
            sf2_fresh = False
            rec2: dict = {}
            sf2_failures: dict[str, str] = {}
            halves_ratio: dict[str, dict] = {}
            # measured data ratio for the sf1 -> sf2 step; stays at the
            # 2.0 default when no sf2 pass runs (r9 ADVICE: the detector
            # must compare against the RATIO THE DATA ACTUALLY GREW BY,
            # not a hardcoded 2.0, for env-overridden sf2 dirs)
            dr2 = 2.0
            if (
                sf2_dir and os.path.isdir(sf2_dir) and sf1_timings
                and budget.left() > 300
            ):
                try:
                    rec2 = json.load(
                        open(os.path.join(sf2_dir, "provenance.json"))
                    )
                    sf2_fresh = rec2["files"] == provenance(rec2["src"])
                except Exception:
                    sf2_fresh = False
            elif sf1_timings:
                budget.dropped["sf2_pass"] = "phase"
            if sf2_fresh:
                sf2_parts = str(prev_parts * int(rec2.get("factor", 20)))
                top10 = sorted(
                    sf1_timings, key=sf1_timings.get, reverse=True
                )[:10]
                spark.stop()
                # Round 11: the sf2 context adopts tools/split_probe.py's
                # protocol wholesale — the protocol whose dedicated
                # decompositions (SCALE.md) kept proving flagged queries
                # linear while the organic detector re-flagged them:
                # (a) heap scaled to the decade (28g; triangles sf2
                # measured 83.8 s at 12g / 30.3 s at 28g with the plan
                # and partitions unchanged — the delta is GCLocker
                # thrash, not plan cost), and (b) a System.gc() before
                # EVERY shot with min-of-2 per measurement, so no shot
                # inherits the previous probe's checkpoint residue.
                spark = get_spark(
                    "yellowrush-bench-sf2",
                    shuffle_partitions=prev_parts
                    * int(rec2.get("factor", 20)),
                    driver_mem=os.environ.get("SPARK_GRAFT_PROBE_MEM", "28g"),
                )
                dr2 = rec2.get("factor", 20) / recorded.get("factor", 10)
                try:

                    def _shot2(name: str, d: str, parts: str, rng=None) -> float:
                        best = None
                        for _ in range(2):
                            spark.sparkContext._jvm.System.gc()
                            spark.conf.set(
                                "spark.sql.shuffle.partitions", parts
                            )
                            if rng is not None:
                                entrymod._SPLIT_RANGE = rng
                            t0 = time.perf_counter()
                            try:
                                materialize(qmap[name](spark, d))
                            finally:
                                entrymod._SPLIT_RANGE = None
                            dt = time.perf_counter() - t0
                            best = dt if best is None else min(best, dt)
                        return best

                    for qi, name in enumerate(top10):
                        if budget.left() < 180:
                            budget.dropped["sf2_pass"] = top10[qi:]
                            break
                        try:
                            t1b = _shot2(name, sf1_dir, sf1_parts)
                            t2 = _shot2(name, sf2_dir, sf2_parts)
                            sf1_paired2[name] = round(t1b, 2)
                            sf2_timings[name] = round(t2, 2)
                            # Round 12 (verdict #6): a flagged query gets
                            # the replica-halves decomposition IN the
                            # bench — the sf2 dataset is 20 independent
                            # key-strided replicas (tools/gen_sf.py), so
                            # a linear plan's two sf1-sized halves sum to
                            # ~2x its sf1 time regardless of single-JVM
                            # working-set residue on the monolithic shot.
                            if (
                                t2 / max(t1b, 1e-3) > dr2
                                and budget.left() > 120
                                and hasattr(entrymod, "_SPLIT_RANGE")
                            ):
                                from tools.gen_sf import KEY_STRIDE

                                half = 10 * KEY_STRIDE
                                ta = _shot2(
                                    name, sf2_dir, sf1_parts, rng=(0, half)
                                )
                                tb = _shot2(
                                    name, sf2_dir, sf1_parts,
                                    rng=(half, 40 * KEY_STRIDE),
                                )
                                halves_ratio[name] = {
                                    "halves": round(ta + tb, 2),
                                    "halves_over_sf1": round(
                                        (ta + tb) / max(t1b, 1e-3), 2
                                    ),
                                }
                        except Exception as exc:  # noqa: BLE001
                            sf2_failures[name] = (
                                f"{type(exc).__name__}: {exc}"[:200]
                            )
                finally:
                    spark.stop()
                    spark = get_spark(
                        "yellowrush-bench", shuffle_partitions=prev_parts
                    )
            ratio_sf1 = dr
            ratios1 = {
                q: round(sf1_timings[q] / max(sf01_paired[q], 1e-3), 2)
                for q in sf1_timings
            }
            # Round 9: the 2x-step ratios (sf1 -> sf2) join the schema so
            # the superlinear detector reads ALL measured decades — a
            # query is flagged if ANY step exceeds its own data ratio.
            ratios2 = {
                q: round(
                    sf2_timings[q]
                    / max(sf1_paired2.get(q, sf1_timings[q]), 1e-3),
                    2,
                )
                for q in sf2_timings
            }
            scaling_sf1 = {
                "sf1_total": round(sum(sf1_timings.values()), 2),
                "data_ratio": ratio_sf1,
                "time_ratio": ratios1,
                "time_ratio_sf2": ratios2,
                # The full probe series per heavy query — sf0.01 from the
                # secondary suite pass, the PAIRED sf0.1 shot, sf1, and
                # (top-10) sf2 — recorded in BENCH itself so three-decade
                # evidence never lives only in SCALE.md prose.
                "series_sec": {
                    q: {
                        k: v
                        for k, v in (
                            ("sf0.01", sec_timings.get(q)),
                            ("sf0.1_paired", sf01_paired[q]),
                            ("sf1", sf1_timings[q]),
                            ("sf1_paired2", sf1_paired2.get(q)),
                            ("sf2", sf2_timings.get(q)),
                        )
                        if v is not None
                    }
                    for q in sf1_timings
                },
                "superlinear": sorted(
                    [q for q, r in ratios1.items() if r > ratio_sf1]
                ),
                "superlinear_sf2": sorted(
                    [q for q, r in ratios2.items() if r > dr2]
                ),
                "halves_ratio": halves_ratio,
            }
            if sf1_failures:
                failures.update({f"sf1:{k}": v for k, v in sf1_failures.items()})
            if sf2_failures:
                failures.update({f"sf2:{k}": v for k, v in sf2_failures.items()})
        else:
            scaling_sf1 = {"skipped": "sf1 provenance stale or missing; run tools/gen_sf.py"}
    elif sf1_dir and os.path.isdir(sf1_dir) and timings:
        budget.dropped["sf1_pass"] = "phase"

    # FINAL RECORD: everything the budget allowed, summary line LAST so
    # the driver's stdout tail always ends with parsable JSON.
    out, summary = build_out(scaling, scaling_sf1)
    _emit(out, timings, summary)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
