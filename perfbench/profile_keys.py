"""Profile every headline key, and pick the interactive sample from it.

    python3 perfbench/profile_keys.py            # measure -> key_profile.json
    python3 perfbench/profile_keys.py --select   # apply the rule, print it

Measuring runs each of bench.py's ``HEADLINE`` keys on the benchmark's
own fixture (``datagen.py`` at ``workloads.SF``) in one session on
``local[nproc]``, with the same launch environment as a traced benchmark
run: once untimed, then ``TRIALS`` timed trials of build plus ``noop``
materialization, as bench.py times a key. Per key it stores the median
latency and build time, the Spark jobs launched while the DataFrame is
built and in total (from the event log, charged by submission time), and
the result's row count.

``select`` is the rule that fixes ``workloads.QUERY_INTERACTIVE``:

1. candidates are the keys that launch no job while built and are not
   iterative (``graph_*``, ``dedup_*`` and the Structured Streaming keys
   in ``ITERATIVE_STREAM_KEYS``);
2. a key's family is its name up to the first ``_``; take the
   ``FAMILIES`` families with the most candidates (ties by name);
3. from each, the key with a non-empty result whose latency is nearest
   the family's median latency (ties by name).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "key_profile.json")
TRIALS = 3
FAMILIES = 8
ITERATIVE_STREAM_KEYS = (
    "stream_foreach_jdbc",
    "stream_incremental_topk",
    "stream_cdc_upsert",
    "stream_exactly_once_sink",
)


def family(key: str) -> str:
    return key.split("_", 1)[0]


def candidates(profile: dict) -> dict[str, dict]:
    return {
        k: v
        for k, v in profile["keys"].items()
        if "error" not in v
        and v["build_jobs"] == 0
        and family(k) not in ("graph", "dedup")
        and k not in ITERATIVE_STREAM_KEYS
    }


def select(profile: dict) -> list[str]:
    """The interactive sample, by the rule in the module docstring."""
    cand = candidates(profile)
    families: dict[str, list[str]] = {}
    for k in sorted(cand):
        families.setdefault(family(k), []).append(k)
    largest = sorted(families, key=lambda f: (-len(families[f]), f))[:FAMILIES]
    chosen = []
    for f in sorted(largest):
        med = statistics.median(cand[k]["latency_s"] for k in families[f])
        nonempty = [k for k in families[f] if cand[k]["rows"] > 0]
        chosen.append(min(nonempty, key=lambda k: (abs(cand[k]["latency_s"] - med), k)))
    return chosen


def summary(rows: list[dict]) -> dict:
    return {
        "keys": len(rows),
        "latency_p50_s": round(statistics.median(r["latency_s"] for r in rows), 4),
        "build_share_p50": round(
            statistics.median(r["build_s"] / r["latency_s"] for r in rows), 4
        ),
        "jobs_per_key": round(statistics.mean(r["jobs"] for r in rows), 3),
    }


def measure() -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import bench

    from perfbench import datagen, run, tracing, workloads

    args = run.parse_args(["--workload", "profile", "--seed", "0", "--seconds", "0",
                           "--trace", "1"])
    run_dir = run.prepare_environment(args)
    sf_dir = datagen.ensure(os.path.join(run.BUILD, "data"), workloads.SF)

    from cloud2sql_spark.queries.extensions import clear_shingle_cache
    from cloud2sql_spark.registry import queries
    from cloud2sql_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench-profile", cpus=cores)
    registry = queries()
    tracer = tracing.Tracer()
    clear_shingle_cache()
    trials: dict[str, list] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    for key in bench.HEADLINE:
        try:
            df = registry[key](spark, sf_dir)
            rows[key] = df.count()
            df.write.format("noop").mode("overwrite").save()
            for _ in range(TRIALS):
                with tracer.span(key) as op:
                    with tracer.span("build"):
                        df = registry[key](spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                trials.setdefault(key, []).append(op)
        except Exception as e:  # noqa: BLE001 — recorded, and never a candidate
            errors[key] = repr(e)[:300]
        print(key, rows.get(key), errors.get(key, ""), flush=True)
    spark.stop()
    jobs = tracing.read_event_log(tracing.event_log_file(os.path.join(run_dir, "eventlog")))
    tracing.attribute(jobs, tracer)
    build = {s.op: s.duration for s in tracer.spans if s.name == "build"}
    out: dict = {"sf": workloads.SF, "cores": cores, "trials": TRIALS,
                 "measured": time.strftime("%Y-%m-%d"), "keys": {}}
    for key in bench.HEADLINE:
        if key in errors:
            out["keys"][key] = {"error": errors[key]}
            continue
        ops = trials[key]
        ids = [op.id for op in ops]
        out["keys"][key] = {
            "latency_s": round(statistics.median(op.duration for op in ops), 4),
            "build_s": round(statistics.median(build[i] for i in ids), 4),
            "build_jobs": round(
                statistics.median(sum(j.op == i and j.in_build for j in jobs) for i in ids)
            ),
            "jobs": round(statistics.median(sum(j.op == i for j in jobs) for i in ids)),
            "rows": rows[key],
        }
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--select", action="store_true",
                   help="print the rule's choice from the stored profile")
    args = p.parse_args(argv)
    if not args.select:
        profile = measure()
        cand = candidates(profile)
        chosen = select(profile)
        profile["candidates"] = summary(list(cand.values()))
        profile["sample"] = summary([cand[k] for k in chosen])
        with open(PROFILE, "w") as f:
            json.dump(profile, f, indent=1, sort_keys=True)
            f.write("\n")
    with open(PROFILE) as f:
        profile = json.load(f)
    print(json.dumps({"interactive": select(profile), "candidates": profile["candidates"],
                      "sample": profile["sample"]}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
