"""Per-round benchmark entrypoint (driver contract).

Runs the registered headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full execution with a ``noop``-format write (all
partitions computed, nothing collected to the driver) so the timing
reflects distributed execution cost, not driver materialization. This is
deliberately the opposite of ``tools/check_oracle.py`` (which collects for
value comparison): the bench measures the plan, the oracle checks the
values.

Noise handling: single-shot timings on a shared host swing inside a
documented 67-102 s band for the full suite, which makes one-pass
comparisons meaningless. The bench therefore runs
``$SPARK_GRAFT_BENCH_REPEATS`` (default 2) interleaved full passes —
repeats of a query never run back to back, so a transient host stall
cannot bias one query's every sample — and reports per-query MIN
(the least-noise estimate of plan cost) plus per-query spread and
per-family subtotals so regressions localize to an operator family.

Adaptive de-noising (r09 verdict item 6): queries whose max−min spread
after the full passes exceeds ``$SPARK_GRAFT_BENCH_NOISY_SPREAD``
(default 0.5 s) or 50% of their min — either threshold alone suffices,
so a fast query with a huge relative spread is re-sampled too (r10
advice) — get up to ``$SPARK_GRAFT_BENCH_EXTRA`` (default 2)
additional interleaved samples, so their min estimate is a min-of-3/4
instead of min-of-2. Because max−min can only GROW with more samples,
the printed noise figure for gate-reliability is
``noise_min_stability_total`` — the sum of (2nd-smallest − smallest)
per query — which measures how settled the min estimates actually are;
the legacy max−min spread stays in the detail file for cross-round
comparability.

Composed-pipeline warm-up (r10 verdict item 2): every round's
adaptively re-sampled set was the SAME seven ``pipeline_*`` chains —
their first-execution cost is codegen/JIT of a long composed plan, not
data, so their 2-pass spread ran up to 3.4 s and kept
``noise_min_stability_total`` noise-limited. The bench therefore runs
one UNTIMED execution of each ``pipeline_*`` query before the timed
passes; the timed samples then measure the warmed plan.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_FAMILY_RE = re.compile(r"^(q\d+|s\d+|x\d+|pipeline)")


def _family(name: str) -> str:
    m = _FAMILY_RE.match(name)
    return m.group(1) if m else "other"


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _repeat_order(
    samples: dict[str, list[float]], last_run: str | None
) -> list[str]:
    """A repeat pass's order: slowest first by first sample, except that
    ``last_run`` (the query that ended the previous pass) never starts
    it — it swaps places with the next query instead."""
    order = sorted(samples, key=lambda n: -(samples[n][0] if samples[n] else 0.0))
    if len(order) > 1 and order[0] == last_run:
        order[0], order[1] = order[1], order[0]
    return order


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))
    # Never let repeat passes push total wall past the budget: a partial
    # second pass still improves min-estimates for the queries it reached,
    # and a finished JSON line always beats a harness timeout.
    time_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_TIME_BUDGET", "600")
    )
    bench_start = time.time()

    import __spark_entry__ as entrymod
    from reddit_data_engineering_project_spark.session import get_spark

    spark = get_spark(app_name="bench")
    queries = entrymod.queries()

    samples: dict[str, list[float]] = {n: [] for n in queries}
    failures: dict[str, str] = {}
    # Warm the JVM + parquet footer caches once so q-to-q timings are not
    # dominated by first-touch JIT; the warmup query is not recorded.
    try:
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()
    except Exception:
        pass
    # Untimed warm-up of the composed pipeline_* chains (r10 verdict
    # item 2): their first execution is JIT/codegen-dominated and was
    # the whole adaptively-re-sampled set every round.
    for name in sorted(queries):
        if not name.startswith("pipeline_"):
            continue
        try:
            queries[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception:
            pass  # the timed pass will record the failure
        finally:
            spark.catalog.clearCache()

    budget_hit = False
    last_run = None
    for pass_no in range(repeats):
        # Pass scheduling by value (r17 verdict item 1): pass 0 runs in
        # name order (stable, comparable with every prior round), but
        # REPEAT passes run slowest-first so that when the time budget
        # cuts a pass short, the queries that lost their second sample
        # are the sub-second tail — whose min-of-1 is within host jitter
        # of min-of-2 anyway — never the >=1 s set that carries the
        # regression gate. r17's budget-cut run degraded the WHOLE suite
        # to single cold samples and manufactured 31 phantom family
        # regressions; this keeps the gateable minimums settled first.
        # A repeat pass never starts with the query that ended the
        # previous pass (``_repeat_order``), so no query's two samples
        # run back to back, where JIT and OS-cache warmth would bias its
        # min; every query's samples are separated by at least one other
        # query, and the slowest still run early.
        if pass_no == 0:
            order = sorted(queries)
        else:
            order = _repeat_order(samples, last_run)
        for name in order:
            if pass_no > 0 and time.time() - bench_start > time_budget:
                budget_hit = True
                break
            if name in failures:
                continue
            fn = queries[name]
            last_run = name
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                samples[name].append(time.time() - t0)
            except Exception as exc:  # keep benching the rest
                failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            finally:
                # Queries that persist() intermediates (the LSH dedup
                # family) would otherwise leave cached RDDs in the shared
                # session and degrade every LATER query's timing (measured:
                # a 10x dedup run went 126 s -> 12 s once prior cache
                # pressure was cleared). Clearing between queries makes
                # each timing an isolated cold-cache measurement.
                spark.catalog.clearCache()

    # Adaptive extra passes over the noisy subset only: re-time queries
    # whose spread says the 2-pass min is not settled. Interleaved like
    # the main passes (whole noisy set per round) and budget-checked.
    noisy_spread = float(
        os.environ.get("SPARK_GRAFT_BENCH_NOISY_SPREAD", "0.5")
    )
    extra_passes = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "2")))
    # "noisy" = spread exceeds the absolute floor OR 50% of min —
    # min() implements the documented 'or' (r10 advice: max() silently
    # exempted fast queries with huge relative spread).
    noisy = sorted(
        n
        for n, s in samples.items()
        if len(s) > 1
        and (max(s) - min(s)) > min(noisy_spread, 0.5 * min(s))
    )
    # Slowest-first here too: if the budget cuts the extra passes, the
    # expensive noisy queries got their extra samples first.
    noisy.sort(key=lambda n: -min(samples[n]))
    for _ in range(extra_passes):
        for name in noisy:
            if time.time() - bench_start > time_budget:
                budget_hit = True
                break
            t0 = time.time()
            try:
                df = queries[name](spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                samples[name].append(time.time() - t0)
            except Exception as exc:
                failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            finally:
                spark.catalog.clearCache()

    timings = {
        n: round(min(s), 3) for n, s in samples.items() if s
    }
    # max-min spread per query: how much host noise moved this timing
    # across passes (0.0 when repeats == 1).
    spread = {
        n: round(max(s) - min(s), 3)
        for n, s in samples.items()
        if len(s) > 1
    }
    # min stability: distance from the best to the second-best sample —
    # the honest noise bound on a MIN estimator (max-min only grows
    # with extra samples; this shrinks as the min settles).
    stability = {
        n: round(sorted(s)[1] - sorted(s)[0], 3)
        for n, s in samples.items()
        if len(s) > 1
    }
    families: dict[str, float] = {}
    for n, t in timings.items():
        fam = _family(n)
        families[fam] = round(families.get(fam, 0.0) + t, 3)

    total = round(sum(timings.values()), 3)
    # Full per-query payload — written to a side file, NOT printed: the
    # round driver retains only the LAST 2000 characters of bench output
    # and parses the JSON line out of that window (BENCH_r01-r05 all
    # show "parsed": null with a mid-line 2000-char tail), so a
    # 120-query dict (~4.4 KB) can never parse there. The printed line
    # below is the compact contract-conformant summary; per-query detail
    # lives in BENCH_DETAIL.json alongside this script.
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        "repeats": repeats,
        "aggregation": "per-query min over interleaved full passes",
        "families": dict(sorted(families.items())),
        # How many timed samples each min is a min OF — lets PERF compare
        # like-for-like when a budget cut truncates repeat passes
        # (r17 verdict item 1).
        "repeats_completed": {
            n: len(s) for n, s in samples.items() if s
        },
    }
    if spread:
        worst = sorted(
            spread.items(), key=lambda kv: kv[1], reverse=True
        )[:5]
        # Gate-relevant noise: a 1.5x regression only matters (and is
        # only gateable) on queries of real cost, and the all-query sum
        # is dominated by irreducible ~0.1 s host jitter x 200 tiny
        # queries. Split the figure: >=1 s queries carry the regression
        # gate; the total stays for cross-round comparability.
        ge1 = {n: v for n, v in stability.items() if timings.get(n, 0) >= 1.0}
        detail["noise"] = {
            "per_query_spread_max_minus_min": dict(worst),
            "spread_total": round(sum(spread.values()), 3),
            "min_stability_total": round(sum(stability.values()), 3),
            "min_stability_ge1s_total": round(sum(ge1.values()), 3),
            "min_stability_ge1s_worst": dict(
                sorted(ge1.items(), key=lambda kv: kv[1], reverse=True)[:8]
            ),
            "extra_sampled": noisy,
        }
    if budget_hit:
        detail["time_budget_hit"] = True
    if failures:
        detail["failures"] = failures
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"),
            "w",
        ) as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the printed summary still stands

    # Compact printed line (budget ≤ 1900 bytes so the driver's 2000-char
    # tail always contains it whole): per-FAMILY subtotals as the
    # "queries" dict (name → seconds, same schema shape), plus the
    # slowest individual queries so regressions localize.
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": dict(sorted(families.items())),
        "sf": _sf_from_dir(sf_dir),
        "repeats": repeats,
        "aggregation": (
            "per-family totals of per-query min over interleaved passes;"
            " per-query detail in BENCH_DETAIL.json"
        ),
        "n_queries": len(timings),
        "slowest": dict(
            sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:8]
        ),
    }
    if spread:
        result["noise_spread_total"] = round(sum(spread.values()), 3)
        result["noise_min_stability_total"] = round(
            sum(stability.values()), 3
        )
        result["noise_min_stability_ge1s_total"] = round(
            sum(
                v
                for n, v in stability.items()
                if timings.get(n, 0) >= 1.0
            ),
            3,
        )
    if budget_hit:
        result["time_budget_hit"] = True
        # Which minimums are single-sample (budget cut their repeat) and
        # how much >=1 s time sits in that unsettled set: 0.0 means every
        # gateable query still got min-of-2+ despite the cut.
        single = [n for n, s in samples.items() if len(s) == 1]
        result["n_single_sample"] = len(single)
        result["single_sample_ge1s_total"] = round(
            sum(timings.get(n, 0.0) for n in single
                if timings.get(n, 0.0) >= 1.0),
            3,
        )
    if failures:
        result["n_failures"] = len(failures)
        result["failures"] = {
            n: failures[n][:60] for n in sorted(failures)[:5]
        }
    line = json.dumps(result)
    if len(line) > 1900:  # belt-and-braces: drop optional sections
        for key in (
            "slowest",
            "failures",
            "noise_spread_total",
            "noise_min_stability_total",
            "noise_min_stability_ge1s_total",
            "n_single_sample",
            "single_sample_ge1s_total",
        ):
            result.pop(key, None)
        line = json.dumps(result)
    print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
