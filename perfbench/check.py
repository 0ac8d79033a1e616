#!/usr/bin/env python3
"""Output checks for the benchmark, and the benchmark's own checks.

`check_run(truth, result)` compares every operation the JVM side
observed against the generator's ground truth and returns
(attempted, failed, problems). Run as a script, it checks the
benchmark itself:

    python3 perfbench/check.py --selftest

  - the same seed produces byte-identical inputs (and another seed
    does not);
  - an observation built from the ground truth passes the checker, and
    the same observation with one planted wrong count is rejected, for
    every workload.
"""
import copy
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

# Query results whose row order is part of the answer.
ORDERED = {"explodeFrequency", "coverage", "fullOuterCounts", "preview",
           "countOnLatestDate", "maxDate", "kpiCounts"}
ETL_KEYS = ("counters", "object_statuses", "missing_collections",
            "unmapped_collections", "rows", "audit")


def canon(v):
    return json.dumps(v, sort_keys=True)


def rows_equal(name, got, want):
    if name in ORDERED:
        return canon(got) == canon(want)
    return sorted(map(canon, got)) == sorted(map(canon, want))


def add_counts(total, part):
    """Sum nested dicts of counts."""
    for k, v in part.items():
        if isinstance(v, dict):
            add_counts(total.setdefault(k, {}), v)
        else:
            total[k] = total.get(k, 0) + v
    return total


def expected_op(truth, op):
    """The ground-truth observation for one measured operation."""
    w = truth["workload"]
    if w == "etl_pg_batches":
        exp = gen.etl_truth(truth["batches"][op["obs"]["batch"]], first_run=False)
        return {k: exp[k] for k in ETL_KEYS if k != "audit"}
    return {"rows": truth["queries"][op["name"]]}


def op_problems(truth, op):
    if op.get("error"):
        return [f"{op['name']}: error {op['error']}"]
    want = expected_op(truth, op)
    got = op.get("obs") or {}
    out = []
    for key, w in want.items():
        g = got.get(key)
        ok = (rows_equal(op["name"], g or [], w) if truth["workload"] == "audit_dashboard"
              else canon(g) == canon(w))
        if not ok:
            out.append(f"{op['name']}.{key}: got {canon(g)[:300]} want {canon(w)[:300]}")
    return out


def landed(expected_runs):
    """Rows and audit breakdown that a sequence of ETL runs leaves."""
    want = {"rows": {}, "audit": {}}
    for exp in expected_runs:
        add_counts(want["rows"], exp["rows"])
        add_counts(want["audit"], exp["audit"])
    return want


def expected_check(truth, check):
    """Ground truth for a check made outside the measured loop: the
    Postgres read-back after the loop, a dashboard set-up load, or the
    tables the dashboard set-up landed."""
    name = check["name"]
    if name == "postgres_final":
        return landed(gen.etl_truth(truth["batches"][b], first_run=False)
                      for b in check["batches"])
    if name == "dashboard_landed":
        return landed(truth["load"])
    exp = truth["load"][int(name.rsplit("_", 1)[1])]  # dashboard_load_<i>
    return {k: exp[k] for k in ETL_KEYS if k not in ("rows", "audit")}


def final_problems(truth, check):
    want = expected_check(truth, check)
    got = check["obs"]
    return [f"{check['name']}.{k}: got {canon(got.get(k))[:300]} want {canon(want[k])[:300]}"
            for k in want if canon(got.get(k)) != canon(want[k])]


def check_run(truth, result):
    attempted = failed = 0
    problems = []
    for op in result["ops"]:
        attempted += 1
        p = op_problems(truth, op)
        failed += bool(p)
        problems += p
    for c in result.get("checks", []):
        attempted += 1
        p = final_problems(truth, c)
        failed += bool(p)
        problems += p
    return attempted, failed, problems


# --- self-test -------------------------------------------------------------

def perfect_result(truth):
    """A JVM result whose every observation equals the ground truth."""
    w = truth["workload"]
    if w == "etl_pg_batches":
        ops = []
        for b in range(len(truth["batches"])):
            exp = gen.etl_truth(truth["batches"][b], first_run=False)
            obs = {k: exp[k] for k in ETL_KEYS if k != "audit"}
            obs["batch"] = b
            ops.append({"name": "batch", "obs": obs})
        final = {"name": "postgres_final", "batches": list(range(len(truth["batches"])))}
        final["obs"] = expected_check(truth, final)
        return {"ops": ops, "checks": [final]}
    ops = [{"name": q, "obs": {"rows": copy.deepcopy(rows)}}
           for q, rows in truth["queries"].items()]
    checks = [{"name": n} for n in
              [f"dashboard_load_{i}" for i in range(len(truth["load"]))]
              + ["dashboard_landed"]]
    for c in checks:
        c["obs"] = expected_check(truth, c)
    return {"ops": ops, "checks": checks}


def plant_wrong_count(result):
    """Add one to the first count found in the first operation."""
    bad = copy.deepcopy(result)

    def bump(v):
        if isinstance(v, bool):
            return None
        if isinstance(v, int):
            return v + 1
        if isinstance(v, list):
            for i, x in enumerate(v):
                y = bump(x)
                if y is not None:
                    v[i] = y
                    return v
        if isinstance(v, dict):
            for k in sorted(v):
                y = bump(v[k])
                if y is not None:
                    v[k] = y
                    return v
        return None

    assert bump(bad["ops"][0]["obs"]) is not None, "no count to plant"
    return bad


def same_files(a, b):
    names = []
    for root, _, files in os.walk(a):
        names += [os.path.relpath(os.path.join(root, f), a) for f in files]
    for n in names:
        with open(os.path.join(a, n), "rb") as fa, open(os.path.join(b, n), "rb") as fb:
            if fa.read() != fb.read():
                return False
    return len(names) > 0 and sum(len(fs) for _, _, fs in os.walk(b)) == len(names)


def selftest():
    ok = True
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as tmp:
        for w in ("etl_pg_batches", "audit_dashboard"):
            d1, d2, d3 = (os.path.join(tmp, f"{w}-{k}") for k in "abc")
            truth = gen.generate(11, w, d1)
            gen.generate(11, w, d2)
            gen.generate(12, w, d3)
            det = same_files(d1, d2) and not same_files(d1, d3)
            good = check_run(truth, perfect_result(truth))
            bad = check_run(truth, plant_wrong_count(perfect_result(truth)))
            passed = det and good[1] == 0 and bad[1] == 1
            ok &= passed
            print(f"{w}: same seed identical and other seed different: {det}; "
                  f"truth passes: {good[1] == 0} ({good[0]} checked); "
                  f"planted wrong count rejected: {bad[1] == 1}")
    print("SELFTEST", "PASS" if ok else "FAIL")
    return ok


if __name__ == "__main__":
    if sys.argv[1:] != ["--selftest"]:
        sys.exit(__doc__)
    sys.exit(0 if selftest() else 1)
