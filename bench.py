#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The stdout line keeps "queries" to the headline set so the line stays
short enough for line-capped log capture to record it intact (a
247-entry map overflows such capture and the artifact fails to parse);
the FULL per-query timing map is written to $SPARK_GRAFT_BENCH_JSON
(default BENCH_FULL_latest.json next to this script) for the committed
artifact.

Each query is timed as count() over its result, with no driver-side
collect of payload rows. count() does NOT force the full plan: Catalyst
prunes every projection, window and outer join that cannot change the
row count, so projection-heavy queries (regex, hash, window, vector
columns) are under-measured (ROADMAP.md, Open item 1).

Clean-run certification (round 8): a published per-query number must
come from a run with hypervisor steal < 1% AND external-process CPU
< 0.5 cores, retrying up to SPARK_GRAFT_CLEAN_RETRIES times with a
short quiet wait between attempts — and that clean run must also be
the (near-)fastest attempt observed: if any run, even a dirty one,
beat the best clean run by >1.67x, the "clean" run was itself
polluted by contention the steal/ext counters can't see
(memory-bandwidth/LLC pressure, sub-threshold steal) and is not
certified. A query with no certified run in budget publishes its
fastest time flagged "dirty": true and is EXCLUDED from the headline
"value" (the full sum is still reported as "total_all").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from commercial_rfp_data_pipeline_spark.io import release_pinned
from commercial_rfp_data_pipeline_spark.registry import all_queries
from commercial_rfp_data_pipeline_spark.session import get_spark

HEADLINE = [
    "rfp_clean_flagship",
    "pricing_summary_q1",
    "multi_join_order_lineitem_part",
    "dedup_exact_deterministic",
    "topk_orders_per_customer",
    "window_rank_lag_running",
    "keep_latest_global_date_literal",
    "revenue_topn_with_order",
    "training_data_pipeline",
    "shipping_priority_q3",
    "pagerank_copurchase",
    "span_dedup_c4",
    "semdedup_prune",
]


def _read_cpu():
    """(busy_ticks, steal_ticks, total_ticks) from /proc/stat, or None.

    Steal (field 8) is time the hypervisor ran OTHER guests — the
    signature of the external VM load that poisoned the round-5
    artifact. busy = total - idle - iowait additionally captures
    co-tenant processes INSIDE this machine (the round-6 hole: 16 s
    pagerank entries recorded at load1 ~9 with steal under the gate —
    the competing load was local, which steal never sees)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        total = sum(vals)
        return total - idle, steal, total
    except (OSError, ValueError, IndexError):
        return None


def _subtree_ticks() -> int | None:
    """utime+stime ticks of THIS process and every descendant (the
    Spark JVM, Python workers). busy-ticks minus this is CPU burned by
    processes that are not us — the external-load signal that, unlike
    loadavg, is not polluted by our own 32-core bursts."""
    try:
        me = os.getpid()
        ppid_of: dict[int, int] = {}
        ticks_of: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    rest = f.read().rsplit(") ", 1)[1].split()
            except (OSError, IndexError):
                continue
            pid = int(entry)
            # after the comm field: rest[0]=state, rest[1]=ppid,
            # rest[11]=utime, rest[12]=stime, rest[13]=cutime,
            # rest[14]=cstime. cutime/cstime hold REAPED children's
            # time — without them, a Python worker dying mid-measure
            # deletes its accumulated ticks from the subtree sum and
            # the external-load estimate explodes (observed: one
            # 146-core reading on a 32-core box)
            ppid_of[pid] = int(rest[1])
            ticks_of[pid] = (
                int(rest[11])
                + int(rest[12])
                + int(rest[13])
                + int(rest[14])
            )

        def is_ours(pid: int) -> bool:
            seen = set()
            while pid > 1 and pid not in seen:
                if pid == me:
                    return True
                seen.add(pid)
                pid = ppid_of.get(pid, 0)
            return False

        return sum(t for p, t in ticks_of.items() if is_ours(p))
    except OSError:
        return None


def _wait_for_quiet() -> bool:
    """Before the first timed query (we've generated no load yet, so
    loadavg is purely external), wait up to SPARK_GRAFT_QUIET_WAIT_S
    for 1-min load to drop under SPARK_GRAFT_MAX_LOAD1. Returns True
    if the run starts quiet."""
    bound = float(os.environ.get("SPARK_GRAFT_MAX_LOAD1", "8"))
    max_wait = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_S", "300"))
    deadline = time.time() + max_wait
    while True:
        load1 = os.getloadavg()[0]
        if load1 <= bound:
            return True
        if time.time() >= deadline:
            print(
                f"bench: starting UNDER LOAD (load1={load1:.1f} > "
                f"{bound}) after {max_wait:.0f}s wait — timings suspect",
                file=sys.stderr,
            )
            return False
        print(
            f"bench: load1={load1:.1f} > {bound}, waiting for quiet...",
            file=sys.stderr,
        )
        time.sleep(15)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # round 11 (VERDICT r10 #1): the artifact serving mode is part of
    # what a bench number MEANS — record it, and never let a non-warm
    # run clobber the canonical warm artifact (file naming below)
    from commercial_rfp_data_pipeline_spark.plans.artifacts import (
        artifacts_mode,
        reset_cold_warehouse,
    )

    art_mode = artifacts_mode()
    started_quiet = _wait_for_quiet()
    spark = get_spark(app_name="bench")
    queries = all_queries()
    # warm the JVM, codegen, and parquet reader once (not timed) so the
    # first timed query doesn't absorb ~10s of session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # warm the Python worker pool + BLAS: the first numpy matmul inside
    # a fresh worker pays a one-time library-load/thread-pool-init cost
    # (measured ~12s on this VM, worse under load); one tiny matmul per
    # worker here means the timed Pandas-UDF queries hit warm workers
    def _warm(batches):
        import numpy as np
        import pandas as pd

        a = np.ones((4, 4))
        (a @ a).sum()
        for b in batches:
            yield pd.DataFrame({"n": [len(b)]})

    spark.range(0, 256, 1, 64).mapInPandas(_warm, "n long").count()
    names = [n for n in HEADLINE if n in queries]
    # extend with any registered queries not in the headline list (cheap
    # coverage signal), capped to keep the bench fast
    names += [n for n in sorted(queries) if n not in names]
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only:  # smoke/debug subset: comma-separated query names
        keep = {s.strip() for s in only.split(",") if s.strip()}
        names = [n for n in names if n in keep]

    # a measurement above RERUN_THRESHOLD_S is re-run once and the min
    # reported: this VM has periodic external load spikes that can stall
    # any single query by 10-60s, and best-of-2 keeps one stall from
    # polluting the recorded number while leaving fast queries at one run.
    # Overridable (scripts/scale_cert.py raises it so the forced-
    # distributed matrix doesn't double every inline entry); the
    # canonical warm bench keeps the default.
    RERUN_THRESHOLD_S = float(
        os.environ.get("SPARK_GRAFT_RERUN_THRESHOLD_S", "3.0")
    )

    # clean-run certification (round 8, VERDICT r7 #1): a query's
    # PUBLISHED number must come from a run with steal_pct < 1 and
    # ext_cores < 0.5 — the r7 artifact carried entries inflated up to
    # 33x by co-tenant load that the per-run telemetry recorded but the
    # headline number ignored. If no clean run is obtained within the
    # retry budget the min is still published, flagged "dirty": true,
    # and EXCLUDED from the headline total (value = total over clean
    # entries; total_all reported alongside).
    CLEAN_STEAL_PCT = float(os.environ.get("SPARK_GRAFT_CLEAN_STEAL_PCT", "1"))
    CLEAN_EXT_CORES = float(
        os.environ.get("SPARK_GRAFT_CLEAN_EXT_CORES", "0.5")
    )
    MAX_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_CLEAN_RETRIES", "4"))
    tick_hz = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100

    def is_clean(r: dict) -> bool:
        return (
            r["steal_pct"] < CLEAN_STEAL_PCT
            and r["ext_cores"] < CLEAN_EXT_CORES
        )

    def _brief_quiet_wait(budget_s: float = 45.0) -> None:
        """Between dirty retries: give the external load a chance to
        pass before burning another attempt (short budget — the
        per-query retry loop, not the run-level _wait_for_quiet)."""
        bound = float(os.environ.get("SPARK_GRAFT_MAX_LOAD1", "8"))
        deadline = time.time() + budget_s
        while time.time() < deadline and os.getloadavg()[0] > bound:
            time.sleep(5)

    def run_once(name: str) -> dict:
        # cold mode: each query pays its own full artifact build — wipe
        # the throwaway warehouse before the clock starts (no-op in
        # warm/off modes)
        reset_cold_warehouse()
        c0, o0 = _read_cpu(), _subtree_ticks()
        t0 = time.time()
        queries[name](spark, sf_dir).count()
        elapsed = round(time.time() - t0, 3)
        c1, o1 = _read_cpu(), _subtree_ticks()
        steal_pct, ext_cores = 0.0, 0.0
        if c0 and c1 and c1[2] > c0[2]:
            steal_pct = round(
                100.0 * (c1[1] - c0[1]) / (c1[2] - c0[2]), 2
            )
            if o0 is not None and o1 is not None and elapsed > 0:
                ext_ticks = max(0, (c1[0] - c0[0]) - (o1 - o0))
                ext_cores = round(
                    min(ext_ticks / tick_hz / elapsed, float(os.cpu_count() or 64)),
                    2,
                )
        # queries are self-contained: release the pinned build products
        # (io.pin) and any stray cache so storage memory can't squeeze
        # execution memory (shuffle/sort spill) for queries that follow
        release_pinned()
        spark.catalog.clearCache()
        return {
            "t": elapsed,
            "steal_pct": steal_pct,
            "ext_cores": ext_cores,
            "load1": round(os.getloadavg()[0], 2),
        }

    # fixed-work calibration probe (round 9, VERDICT r8 #6; redesigned
    # round 10 per ADVICE r9): the steal/ext-cores gate is blind to
    # memory-bandwidth/LLC co-tenancy that slows EVERY attempt equally
    # (the r8 driver window was inflated 5-13x with clean counters).
    # r9's single probe taken once before attempt 1, baselined to the
    # run MINIMUM, over-flagged 78% of a contaminated window (one lucky
    # probe inflates every ratio) and described the wrong window when
    # retries pushed the certified attempt minutes past the probe.
    # Round-10 design:
    #   * each probe is BEST-OF-3 samples of the fixed workload (a
    #     BLAS matmul + a 1e7-row JVM aggregate) — min-of-3 dodges
    #     one-off scheduler hiccups but NOT sustained bandwidth
    #     pressure, which is exactly the signal we want (measured on
    #     this VM at load1~5: single-probe spread vs min 3.45x,
    #     best-of-3 spread 1.70x);
    #   * a probe runs immediately BEFORE EVERY ATTEMPT and rides in
    #     the attempt dict, so the published calib_t/calib_ratio
    #     describe the attempt actually certified;
    #   * the baseline is the 10th PERCENTILE of all probes in the
    #     run (robust to a single lucky sample), floored by
    #     SPARK_GRAFT_CALIB_REF_S when set — an absolute clean-box
    #     constant (~0.185 s best-of-3 on this VM) that keeps a fully
    #     contaminated window from self-certifying;
    #   * post-hoc, entries whose certified attempt's ratio >=
    #     SPARK_GRAFT_CALIB_THRESHOLD (default 1.5) are flagged
    #     "calib_dirty" and EXCLUDED from the headline value, same as
    #     counter-dirty entries; scripts/retime.py re-adjudicates.
    # threshold 1.6: quiet-box probe spread vs the p10 baseline is
    # <= ~1.4 (measured: component-wise-min-of-5 spread 1.59 vs the
    # absolute min), while real co-tenant windows measure >= 1.95
    # median — 1.6 keeps full sensitivity without spurious flags
    CALIB_THRESHOLD = float(
        os.environ.get("SPARK_GRAFT_CALIB_THRESHOLD", "1.6")
    )
    # floor (round 11, ADVICE r10): derived at startup instead of a
    # hard-coded constant. Without a floor, one lucky probe drags the
    # p10 baseline low enough that the 1.6 gate brands NORMAL probe
    # variance dirty (measured: a floorless full run flagged 62
    # entries in its first 20 minutes); but a CONSTANT floor (r10's
    # 0.13 s, measured on this VM class) mutes the gate on a genuinely
    # faster box class (probe/floor shrinks, contaminated timings pass
    # as clean). Resolution: the floor is the startup probe itself —
    # taken right after the quiet wait, before any timed query — CAPPED
    # at the 0.13 s VM-class constant, so a faster box gets a
    # proportionally lower floor (full gate sensitivity) while a start
    # under residual load can never RAISE the floor above the measured
    # quiet-box ceiling. SPARK_GRAFT_CALIB_REF_S overrides both ways
    # (0 disables the floor); the artifact records the value used.
    _ref_env = os.environ.get("SPARK_GRAFT_CALIB_REF_S", "")
    CALIB_REF_S = float(_ref_env or 0)

    def _calib_probe() -> float:
        """Component-wise minima over 5 samples: min(BLAS matmul) +
        min(JVM aggregate). Minima dodge one-off scheduler hiccups and
        GC pauses (which are probe noise) but NOT sustained
        bandwidth/LLC pressure (which is the signal); summing the
        per-component minima is tighter than min-of-sums because the
        two components' hiccups are independent."""
        import numpy as np

        mm = jv = float("inf")
        for _ in range(5):
            a = np.full((512, 512), 1.000001)
            t0 = time.time()
            for _ in range(3):
                a = a @ a * 1e-9
            t1 = time.time()
            spark.range(10_000_000).selectExpr(
                "sum(id * 2654435761)"
            ).collect()
            mm = min(mm, t1 - t0)
            jv = min(jv, time.time() - t1)
        return round(mm + jv, 4)

    _calib_probe()  # one untimed warm (BLAS threads, codegen)
    all_probes: list[float] = [_calib_probe()]  # seed the running floor
    if not _ref_env:
        # startup-derived floor (see the CALIB_REF_S comment above):
        # this box's own quiet probe, capped at the VM-class constant
        CALIB_REF_S = min(0.13, all_probes[0])

    def run_probed(name: str) -> dict:
        p = _calib_probe()
        all_probes.append(p)
        r = run_once(name)
        r["probe"] = p
        return r

    timings: dict[str, float] = {}
    env: dict[str, dict] = {}
    dirty_queries: list[str] = []
    for name in names:
        try:
            attempts = [run_probed(name)]
            # best-of-2 for anything slow (pure variance smoothing)
            if attempts[-1]["t"] > RERUN_THRESHOLD_S and len(attempts) < 2:
                attempts.append(run_probed(name))
            # clean-run certification: retry (after a short quiet wait)
            # until SOME attempt is interference-free — AND the best
            # clean attempt is also the (near-)fastest observed. A
            # "clean" run that a dirty run beat by >1.67x was itself
            # polluted by contention the steal/ext counters can't see
            # (memory-bandwidth/LLC pressure, sub-threshold steal): a
            # genuinely clean run is by definition the fastest.
            # Round 10: an attempt whose adjacent probe ran >= the
            # calib threshold over the running probe floor (best probe
            # seen so far, floored by the absolute reference) is not
            # clean either — the box was provably slow at that moment
            # even if the steal/ext counters read zero.
            def _probe_clean(r: dict) -> bool:
                floor = max(min(all_probes), CALIB_REF_S)
                return floor <= 0 or r["probe"] < CALIB_THRESHOLD * floor

            def _certified(runs: list[dict]) -> dict | None:
                clean = [
                    r for r in runs if is_clean(r) and _probe_clean(r)
                ]
                if not clean:
                    return None
                bc = min(clean, key=lambda r: r["t"])
                fastest = min(runs, key=lambda r: r["t"])
                if fastest["t"] >= 0.6 * bc["t"]:
                    return bc
                # ADVICE r8: one anomalously fast DIRTY run must not
                # permanently block certification (it burned the whole
                # retry budget and published a dirty-flagged minimum
                # even when genuinely clean runs existed). Fallback: a
                # clean run at or under the MEDIAN of all attempts is
                # representative, not lucky — certify it.
                import statistics

                med = statistics.median(r["t"] for r in runs)
                return bc if bc["t"] <= med else None

            while _certified(attempts) is None and len(attempts) < MAX_ATTEMPTS:
                _brief_quiet_wait()
                attempts.append(run_probed(name))
            cert = _certified(attempts)
            best = cert or min(attempts, key=lambda r: r["t"])
            dirty = cert is None
            if dirty:
                dirty_queries.append(name)
                print(
                    f"bench: {name} DIRTY after {len(attempts)} attempts "
                    f"(best steal={best['steal_pct']} "
                    f"ext={best['ext_cores']} probe={best['probe']}) "
                    f"— excluded from total",
                    file=sys.stderr,
                )
            timings[name] = best["t"]
            env[name] = {
                "steal_pct": best["steal_pct"],
                "ext_cores": best["ext_cores"],
                "load1": best["load1"],
                "calib_t": best["probe"],
                "runs": len(attempts),
                "dirty": dirty,
                "all_runs": [
                    [
                        r["t"],
                        r["steal_pct"],
                        r["ext_cores"],
                        r["load1"],
                        r["probe"],
                    ]
                    for r in attempts
                ],
            }
        except Exception as e:  # keep benching; a failed query shows as -1
            print(f"bench error {name}: {e}", file=sys.stderr)
            timings[name] = -1.0
            spark.catalog.clearCache()
    # final baseline: p10 of every probe taken this run (not the run
    # minimum — one lucky sample must not inflate every ratio), floored
    # by the absolute clean-box reference when configured. Entries whose
    # CERTIFIED attempt's probe still reads >= threshold are re-flagged
    # calib_dirty and excluded from the headline value.
    sp = sorted(all_probes)
    calib_base = sp[len(sp) // 10] if sp else 0.0
    if CALIB_REF_S > 0:
        calib_base = max(calib_base, CALIB_REF_S)
    for name, e in env.items():
        e["calib_ratio"] = (
            round(e["calib_t"] / calib_base, 2) if calib_base > 0 else 1.0
        )
        if (
            not e["dirty"]
            and e["calib_ratio"] >= CALIB_THRESHOLD
        ):
            e["dirty"] = True
            e["calib_dirty"] = True
            dirty_queries.append(name)
            print(
                f"bench: {name} CALIB-DIRTY post-hoc "
                f"(calib_t={e['calib_t']} base={round(calib_base, 4)} "
                f"ratio={e['calib_ratio']}) — excluded from total",
                file=sys.stderr,
            )
    total_all = round(sum(t for t in timings.values() if t >= 0), 3)
    total = round(
        sum(
            t
            for n, t in timings.items()
            if t >= 0 and n not in dirty_queries
        ),
        3,
    )
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_num = float(sf) if sf else None
    except ValueError:
        # non-numeric dataset dirs (e.g. the synthesized scale10
        # decade) — keep the label, don't crash after a full run
        sf_num = sf
    # headline contract (VERDICT r10 #6): "value" sums CLEAN entries
    # only, and the clean subset varies per window — so cross-ROUND
    # totals must be compared on "total_all" (every query, dirty
    # included) or per-query, never on "value" alone. "composite" is
    # false for every single-window run; scripts/merge_bench.py sets
    # it true on merged best-of-N artifacts.
    payload = {
        "metric": "total_query_seconds",
        "value": total,  # CLEAN entries only — dirty never pollutes it
        "unit": "sec",
        "primary_cross_round_metric": "total_all",
        "composite": False,
        "artifacts_mode": art_mode,
        "queries": timings,
        "sf": sf_num,
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "n_dirty": len(dirty_queries),
        "dirty_queries": sorted(dirty_queries),
        "total_all": total_all,
        "clean_gate": {
            "steal_pct_lt": CLEAN_STEAL_PCT,
            "ext_cores_lt": CLEAN_EXT_CORES,
            "max_attempts": MAX_ATTEMPTS,
            "calib_threshold": CALIB_THRESHOLD,
        },
        "calib_baseline": round(calib_base, 4),
        "calib_ref_s": CALIB_REF_S or None,
        "calib_probes_p10_p50_p90": [
            round(sp[len(sp) // 10], 4),
            round(sp[len(sp) // 2], 4),
            round(sp[(len(sp) * 9) // 10], 4),
        ]
        if sp
        else None,
        "started_quiet": started_quiet,
        "loadavg_end": round(os.getloadavg()[0], 2),
        "env": env,
    }
    # only the canonical sf0.1 WARM run owns BENCH_FULL_latest.json — a
    # smoke run at another SF, or an off/cold artifact-mode run, must
    # not clobber the committed artifact (it happened once; see git
    # history)
    default_name = (
        "BENCH_FULL_latest.json"
        if sf == "0.1" and art_mode == "warm"
        else f"BENCH_FULL_sf{sf}_{art_mode}.json"
    )
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_JSON",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     default_name),
    )
    try:
        with open(full_path, "w") as f:
            json.dump(payload, f, indent=1)
    except OSError as e:
        print(f"bench: could not write {full_path}: {e}", file=sys.stderr)
    compact = dict(payload)
    compact["queries"] = {n: timings[n] for n in HEADLINE if n in timings}
    compact["queries_full_path"] = full_path
    # per-query env map stays in the full artifact only (stdout line is
    # line-capped); keep just the worst steal reading as the red flag
    del compact["env"]
    steals = [v["steal_pct"] for v in env.values()]
    compact["max_steal_pct"] = max(steals) if steals else 0.0
    exts = [v["ext_cores"] for v in env.values()]
    compact["max_ext_cores"] = max(exts) if exts else 0.0
    ratios = [v.get("calib_ratio", 1.0) for v in env.values()]
    compact["max_calib_ratio"] = max(ratios) if ratios else 1.0
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
