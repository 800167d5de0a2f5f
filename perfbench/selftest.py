"""Fast self-test of the benchmark itself, at sf0.001.

    python3 perfbench/selftest.py

In one traced session it runs every workload for one cold and one warm
pass and checks that:

* every end-to-end and per-layer metric ``BENCHMARK.json`` names is
  emitted, and each layer a workload exercises reads non-zero;
* every op passes the correctness gate;
* the gate agrees with ``tools/oracle_check.check_query`` on every
  query entry, and flags a deliberately wrong expected result (a wrong
  row or a wrong column name for a query entry, a wrong value in the
  table model).

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

# per workload: layers that must read non-zero there
EXERCISED = {
    "offres_dashboards": [
        "tables.load_calls", "catalog.build_s", "catalyst.analysis_ms",
        "catalyst.planning_ms", "exec.jobs", "exec.tasks",
    ],
    "corpus_curation": [
        "tables.load_calls", "catalog.build_s", "codegen.cold_compiles",
        "exec.run_ms", "operators.python_total_ms", "operators.python_rows",
    ],
    "offres_table_log": [
        "txlog.log_reads", "txlog.log_writes", "txlog.files_added",
        "txlog.rewrite_ratio", "txlog.bytes_per_live_byte",
        "streaming.batches", "streaming.trigger_ms", "ops.write_p50_s",
        "ops.drain_p50_s",
    ],
}


def main() -> int:
    problems: list[str] = []
    data_dir, tmp = run.prepare(sf=0.001)
    spark = run.start_session(tmp)
    try:
        from tracing import PER_LAYER, Tracer, per_layer

        bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
        names_e2e = {m["name"] for m in bench["end_to_end"]}
        names_layer = {m["name"] for m in bench["per_layer"]}
        if names_e2e != set(run.END_TO_END):
            problems.append(f"end-to-end names differ: {names_e2e ^ set(run.END_TO_END)}")
        if names_layer != set(PER_LAYER):
            problems.append(f"per-layer names differ: {names_layer ^ set(PER_LAYER)}")
        tracer = Tracer(spark)
        for name in run.WORKLOADS:
            tracer.counts.clear()
            wl = run.make_workload(name, spark, data_dir, tmp, 7, tracer)
            ops, passes, cold = run.measure(wl, 0, tracer)
            e2e = run.end_to_end(ops, passes, 1.0)
            layers, _ = per_layer(tracer, cold, ops, passes, 1.0, wl)
            layers["session.peak_rss_mb"] = run.peak_rss_mb(spark)
            bad = [o[4] for o in ops if not o[3]]
            if bad or not wl.final_check():
                problems.append(f"{name}: failed ops {bad}")
            if set(e2e) != set(run.END_TO_END) or set(layers) != set(PER_LAYER):
                problems.append(f"{name}: metric names incomplete")
            if any(v <= 0 for v in e2e.values()):
                problems.append(f"{name}: zero end-to-end metric {e2e}")
            zero = [k for k in EXERCISED[name] if not layers[k] > 0]
            if zero:
                problems.append(f"{name}: exercised layers read zero: {zero}")
            if name == "offres_table_log":
                problems += check_table_gate(wl)
            else:
                problems += check_query_gate(spark, wl, data_dir)
            print(f"[selftest] {name}: {len(ops)} ops, passes {passes}",
                  flush=True)
    finally:
        run.stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    for p in problems:
        print(f"[selftest] FAIL {p}")
    print(f"[selftest] {'ok' if not problems else 'FAILED'}")
    return 1 if problems else 0


def check_query_gate(spark, wl, data_dir) -> list[str]:
    """The gate agrees with check_query and flags a wrong expectation."""
    import oracle_check as oc
    from data_analyse_marche_emploi_spark import catalog

    out = []
    con = oc.duck_con(data_dir)
    for name in wl.names:
        ok, msg = oc.check_query(spark, con, name, data_dir)
        if not ok:
            out.append(f"check_query {name}: {msg}")
    con.close()
    name = wl.names[0]
    pdf = catalog.QUERIES[name](spark, data_dir).toPandas()
    if not wl.expected.check(name, pdf):
        out.append(f"gate rejects a correct {name}")
    right = wl.expected.want[name]
    wl.expected.want[name] = right + Counter({("not", "a", "row"): 1})
    if wl.expected.check(name, pdf):
        out.append(f"gate accepts a wrong expected result for {name}")
    wl.expected.want[name] = right
    renamed = pdf.rename(columns={pdf.columns[0]: "not_a_column"})
    if wl.expected.check(name, renamed):
        out.append(f"gate accepts a wrong column name for {name}")
    return out


def check_table_gate(wl) -> list[str]:
    """The model check flags a snapshot that differs by one value."""
    model = wl.mor.hist[-1]
    k = next(iter(model))
    right = model[k]
    model[k] = (*right[:3], right[3] + 0.01, right[4])
    flagged = not wl.final_check()
    model[k] = right
    return [] if flagged else ["table gate accepts a wrong model"]


if __name__ == "__main__":
    sys.exit(main())
