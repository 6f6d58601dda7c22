"""Freeze the ``analyst_mix`` query list.

Constructs every registered query once, at the benchmark's sf0.1 inputs,
with a SparkContext job group per builder, records how many Spark jobs
each builder launched while being constructed, then materializes the
query with a noop write. A query is eligible for ``analyst_mix`` when its
builder launches no job, it runs without error, and it belongs to the
short-query class: construction plus execution under ``SHORT_S`` in this
pass. The selection is a stratified sample of ``N_SELECTED`` queries over
the registry's plan modules (``plans._MODULES``), each module contributing
in proportion to its eligible count and at least one query, drawn with a
fixed selection seed so the list is the same in every run; the workload
seed only orders it. Which queries fall in the short class depends on the
host's speed during the pass, so a rebuild can draw another list; the
checked-in list is the one the benchmark measures.

    python3 perfbench/freeze.py [N_SELECTED]      # construct and run all
    python3 perfbench/freeze.py --select N        # re-draw from frozen.json

Writes ``perfbench/frozen.json``. Run it from the repository root; it
reads and writes nothing outside the checkout.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

SELECTION_SEED = 20261017
SHORT_S = 1.5
# The size of the checked-in ``analyst_mix`` list.
N_SELECTED = 12


def stratified(eligible: dict[str, str], n: int, seed: int) -> list[str]:
    by_mod: dict[str, list[str]] = {}
    for q, mod in eligible.items():
        by_mod.setdefault(mod, []).append(q)
    total = len(eligible)
    # One query per module, the rest in proportion by largest remainder.
    rest = n - len(by_mod)
    share = {m: rest * len(qs) / total for m, qs in by_mod.items()}
    quota = {m: 1 + int(v) for m, v in share.items()}
    for m in sorted(share, key=lambda m: (int(share[m]) - share[m], m))[: n - sum(quota.values())]:
        quota[m] += 1
    rng = random.Random(seed)
    picked: list[str] = []
    for mod in sorted(by_mod):
        picked += rng.sample(sorted(by_mod[mod]), min(quota[mod], len(by_mod[mod])))
    return sorted(picked, key=common.query_number)


def write(out: dict) -> None:
    with open(os.path.join(common.HERE, "frozen.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


def select(out: dict, n_sel: int) -> dict:
    eligible = {
        q: out["module"][q] for q in out["eligible"] if out["query_s"][q] < SHORT_S
    }
    out["short_s"] = SHORT_S
    out["analyst_mix"] = stratified(eligible, n_sel, SELECTION_SEED)
    return out


def main() -> int:
    if sys.argv[1:2] == ["--select"]:
        with open(os.path.join(common.HERE, "frozen.json")) as fh:
            out = select(json.load(fh), int(sys.argv[2]))
        write(out)
        print(out["analyst_mix"])
        return 0
    n_sel = int(sys.argv[1]) if len(sys.argv) > 1 else N_SELECTED
    common.prepare_env()
    sf_dir = common.ensure_tables(0.1)
    import airflow_spotify_etl_spark.plans as plans
    from airflow_spotify_etl_spark.session import get_spark

    spark = get_spark("perfbench-freeze")
    sc, st = spark.sparkContext, spark.sparkContext.statusTracker()
    top = {}
    for mod in plans._MODULES:
        for q in mod.QUERIES:
            top[q] = mod.__name__.rsplit(".", 1)[-1]
    records = {}
    for name, fn in plans.all_queries().items():
        group = f"freeze-{name}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        t1 = None
        n_jobs = 0
        try:
            df = fn(spark, sf_dir)
            t1 = time.time()
            n_jobs = len(st.getJobIdsForGroup(group))
            sc.setJobGroup(group + "-exec", group)
            df.write.format("noop").mode("overwrite").save()
            err = None
        except Exception as ex:  # noqa: BLE001
            err = f"{type(ex).__name__}: {ex}"[:200]
        t2 = time.time()
        records[name] = {
            "module": top[name],
            "construct_s": round((t1 or t2) - t0, 3),
            "exec_s": round(t2 - (t1 or t2), 3),
            "construct_jobs": n_jobs,
            "error": err,
        }
        print(name, records[name], flush=True)
    spark.stop()
    eligible = sorted(
        (q for q, r in records.items() if r["construct_jobs"] == 0 and r["error"] is None),
        key=common.query_number,
    )
    out = select({
        "about": "analyst_mix eligibility: registered queries whose builder "
                 "launches no Spark job during construction and which run "
                 "without error, at sf0.1; query_s is construct plus noop "
                 "execution in the freeze pass",
        "selection_seed": SELECTION_SEED,
        "eligible": eligible,
        "module": {q: records[q]["module"] for q in eligible},
        "query_s": {q: round(records[q]["construct_s"] + records[q]["exec_s"], 3)
                    for q in eligible},
        "construct_jobs": {q: r["construct_jobs"] for q, r in records.items()
                           if r["construct_jobs"]},
        "failing": sorted(q for q, r in records.items() if r["error"]),
    }, n_sel)
    write(out)
    print(f"{len(eligible)} eligible of {len(records)}; selected {out['analyst_mix']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
