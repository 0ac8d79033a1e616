#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

    python3 perfbench/gen.py --seed 7 --workload audit_dashboard --out DIR

writes everything one workload run needs under DIR and nothing else:

  config/app_config.json, config/mapping_config.json, config/schema.sql
  etl_pg_batches:  batches/batch_NNN.json (collection envelopes)
  audit_dashboard: dash/date_N/<collection>.jsonl (one JSONL corpus per
                   pinned ingestion date, listed in dash/dates.txt) and
                   queries.txt (the seeded query order)
  truth.json:      ground truth for every check the benchmark makes

The documents mirror the reference's three collections (customers,
orders, products) and cover every date format of the default config,
the boolean tokens, numeric strings, absent-vs-null attributes, cast
errors, unmapped nested attributes and documents missing their object
id. An unmapped collection (events_log) rides along in every input and
a mapped collection (suppliers) never arrives, so each run also takes
the unmapped and MISSING paths. The same seed gives byte-identical
files; the program under test sees only these files.
"""
import argparse
import json
import os
import random

COLLECTIONS = ("customers", "orders", "products")
AUDIT_TABLE = "doc_audit.ingestion_audit"
MISSING_TABLE = "public.suppliers"  # in schema.sql and the mapping, never in the input
UNMAPPED = "events_log"

# Sizes per workload (documents per collection, in COLLECTIONS order).
BATCH_DOCS = (100, 150, 50)            # one small envelope batch
N_BATCHES = 16
DASH_DOCS = (400, 1000, 600)           # per pinned ingestion date
DASH_DATES = ("2025-06-01", "2025-06-02")
DASH_PASSES = 50                       # query order covers this many passes
UNMAPPED_DOCS = 20

DATE_FORMATS = [
    "%Y-%m-%d", "%m/%d/%Y", "%d-%m-%Y", "%Y/%m/%d", "%Y.%m.%d",
    "%Y-%m-%dT%H:%M:%S", "%Y-%m-%dT%H:%M:%S%z", "%Y-%m-%dT%H:%M:%S.%fZ",
    "%d-%m-%Y %H:%M:%S", "%m/%d/%Y %I:%M %p",
]

# Dashboard queries (names match graft.analytics.AuditAnalytics).
QUERIES = (
    "countOnLatestDate", "maxDate", "groupedConditionalCount",
    "pivotCountsDynamic", "explodeFrequency", "kpiCounts", "coverage",
    "fullOuterCounts", "lookupRemap", "runCounters", "missingColumnsUnion",
    "preview",
)

P_ABSENT, P_NULL, P_ERROR, P_NO_ID = 0.025, 0.025, 0.015, 0.001


def app_config(schema_path):
    return {
        "database": {"host": "localhost", "port": 5432, "name": "postgres",
                     "user": "postgres", "password": ""},
        "runtime": {
            "date_formats": DATE_FORMATS,
            "date_output_format": "%Y-%m-%d",
            "datetime_output_format": "%Y-%m-%dT%H:%M:%S%z",
            "schema_path": schema_path,
            "type_mappings": {
                "text": "TEXT", "string": "TEXT", "varchar": "TEXT",
                "integer": "INTEGER", "int": "INTEGER", "bigint": "BIGINT",
                "smallint": "SMALLINT", "float": "DOUBLE PRECISION",
                "double": "DOUBLE PRECISION",
                "double precision": "DOUBLE PRECISION",
                "numeric": "NUMERIC", "decimal": "NUMERIC",
                "boolean": "BOOLEAN", "bool": "BOOLEAN",
                "date": "DATE", "datetime": "TIMESTAMPTZ"},
        },
        "audit": {
            "business_columns": {"ingested_at": "ingested_at",
                                 "source_collection": "source_collection",
                                 "status": "status"},
            "business_column_types": {"ingested_at": "TIMESTAMPTZ",
                                      "source_collection": "TEXT",
                                      "status": "TEXT"},
            "audit_schema": "doc_audit",
            "audit_table": AUDIT_TABLE,
            "audit_columns": {k: k for k in (
                "ingested_at", "object_id", "source_collection", "object_name",
                "object_status", "missing_columns", "processing_status")},
            "audit_column_types": {
                "ingested_at": "TIMESTAMPTZ", "object_id": "TEXT",
                "source_collection": "TEXT", "object_name": "TEXT",
                "object_status": "TEXT", "missing_columns": "JSONB",
                "processing_status": "TEXT"},
            "status_values": {"success": "success", "error": "error",
                              "missing": "missing"},
            "object_status_values": {"new": "NEW", "missing": "MISSING",
                                     "already_exists": "ALREADY_EXISTS"},
        },
        "logging": {"level": "INFO"},
    }


# (source attribute, target column, logical type) per collection; the
# first entry is the object-id attribute.
MAPPINGS = {
    "customers": [("customer_id", "customer_id", "integer"),
                  ("name", "name", "text"),
                  ("signup_date", "signup_date", "date"),
                  ("email", "email", "text"),
                  ("is_active", "is_active", "boolean"),
                  ("loyalty_points", "loyalty_points", "bigint")],
    "orders": [("order_id", "order_id", "integer"),
               ("customer_id", "customer_id", "integer"),
               ("order_date", "order_date", "datetime"),
               ("amount", "amount", "numeric"),
               ("quantity", "quantity", "smallint"),
               ("shipped", "shipped", "boolean")],
    "products": [("product_id", "product_id", "integer"),
                 ("name", "product_name", "text"),
                 ("price", "price", "numeric"),
                 ("created_date", "created_date", "date"),
                 ("weight_kg", "weight_kg", "double"),
                 ("in_stock", "in_stock", "boolean")],
    "suppliers": [("supplier_id", "supplier_id", "integer"),
                  ("name", "name", "text")],
}


def mapping_config():
    return {"collections": {
        coll: {"target_table": f"public.{coll}",
               "raw_json_column": "raw_json",
               "object_id_attribute": attrs[0][0],
               "mappings": {a: {"column": c, "type": t} for a, c, t in attrs}}
        for coll, attrs in MAPPINGS.items()}}


SCHEMA_SQL = f"""-- Deployment schema: the audit tables plus {MISSING_TABLE}, which the
-- input never carries (so every run emits a MISSING audit row for it).
CREATE TABLE IF NOT EXISTS {MISSING_TABLE} (supplier_id INTEGER, name TEXT);
CREATE TABLE IF NOT EXISTS {AUDIT_TABLE} (ingested_at TIMESTAMPTZ NOT NULL);
"""

BOOL_TOKENS = ["t", "yes", "y", "1", "f", "no", "n", "0", "true", "false",
               "YES", " No "]
BAD_TOKENS = {"date": ["not-a-date", "unknown", "2025-99-99x"],
              "datetime": ["not-a-date", "yesterday"],
              "boolean": ["maybe", "perhaps"],
              "numeric": ["abc", "1,5"], "double": ["heavy", "n/a"],
              "integer": ["many", "12x"], "bigint": ["lots"],
              "smallint": ["three", "99999"]}


def ri(rng, lo, hi):
    """Uniform integer in [lo, hi]; rng.random() is far cheaper than
    randint, and the generator draws millions of values."""
    return lo + int(rng.random() * (hi - lo + 1))


def pick(rng, seq):
    return seq[int(rng.random() * len(seq))]


def render_date(rng, fmt_idx):
    y, m, d = ri(rng, 2019, 2025), ri(rng, 1, 12), ri(rng, 1, 28)
    hh, mi, ss = ri(rng, 0, 23), ri(rng, 0, 59), ri(rng, 0, 59)
    if fmt_idx == 0:
        return f"{y:04d}-{m:02d}-{d:02d}"
    if fmt_idx == 1:
        return f"{m:02d}/{d:02d}/{y:04d}"
    if fmt_idx == 2:
        return f"{d:02d}-{m:02d}-{y:04d}"
    if fmt_idx == 3:
        return f"{y:04d}/{m:02d}/{d:02d}"
    if fmt_idx == 4:
        return f"{y:04d}.{m:02d}.{d:02d}"
    if fmt_idx == 5:
        return f"{y:04d}-{m:02d}-{d:02d}T{hh:02d}:{mi:02d}:{ss:02d}"
    if fmt_idx == 6:
        return f"{y:04d}-{m:02d}-{d:02d}T{hh:02d}:{mi:02d}:{ss:02d}+0000"
    if fmt_idx == 7:
        return (f"{y:04d}-{m:02d}-{d:02d}T{hh:02d}:{mi:02d}:{ss:02d}."
                f"{ri(rng, 0, 999999):06d}Z")
    if fmt_idx == 8:
        return f"{d:02d}-{m:02d}-{y:04d} {hh:02d}:{mi:02d}:{ss:02d}"
    h12 = ri(rng, 1, 12)
    return f"{m:02d}/{d:02d}/{y:04d} {h12:02d}:{mi:02d} {pick(rng, ('AM', 'PM'))}"


def valid_value(rng, coll, attr, typ, n):
    if typ == "text":
        if attr == "email":
            return f"user{n}@example.com"
        return pick(rng, (f"{coll[:-1].title()} {n}", f"Zoë {n}", n))
    if typ == "date" or typ == "datetime":
        return render_date(rng, int(rng.random() * len(DATE_FORMATS)))
    if typ == "boolean":
        r = rng.random()
        if r < 0.4:
            return rng.random() < 0.5
        if r < 0.5:
            return pick(rng, (0, 1))
        return pick(rng, BOOL_TOKENS)
    if typ == "numeric":
        cents = ri(rng, 1, 99999)
        r = rng.random()
        if r < 0.5:
            return cents / 100
        if r < 0.8:
            return f"{cents // 100}.{cents % 100:02d}"
        return cents // 100
    if typ == "double":
        v = ri(rng, 1, 50000) / 1000
        return v if rng.random() < 0.7 else f" {v} "
    if typ == "smallint":
        v = ri(rng, 1, 500)
        return v if rng.random() < 0.8 else str(v)
    # integer / bigint
    v = ri(rng, 1, 10 ** 6) if typ == "integer" else ri(rng, 1, 10 ** 11)
    return v if rng.random() < 0.85 else str(v)


def json_value(v):
    """JSON text of a generated value. Generated strings never need
    escaping, so this renders strings directly and leaves only nested
    values to json.dumps — several times faster than dumping whole
    documents, which matters at 150k documents per run."""
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, str):
        return '"' + v + '"'
    if isinstance(v, (int, float)):
        return repr(v)
    return json.dumps(v, separators=(",", ":"))


def make_doc(rng, coll, doc_id, force_no_id):
    """One document plus its expected audit outcome:
    (json_text, object_id or None, is_error, [missing target columns])."""
    r = rng.random
    fields = []
    missing, error, oid = [], False, None
    for i, (attr, column, typ) in enumerate(MAPPINGS[coll]):
        if i == 0:
            if force_no_id or r() < P_NO_ID:
                missing.append(column)
                continue
            if r() < P_ERROR:
                v = f"id-{doc_id}"  # a non-integral id: cast error, id kept
                error = True
            else:
                v = doc_id if r() < 0.9 else str(doc_id)
            fields.append((attr, v))
            oid = str(v)
            continue
        x = r()
        if x < P_ABSENT:
            missing.append(column)
        elif x < P_ABSENT + P_NULL:
            fields.append((attr, None))
        elif x < P_ABSENT + P_NULL + P_ERROR and typ != "text":
            fields.append((attr, pick(rng, BAD_TOKENS[typ])))
            error = True
        else:
            fields.append((attr, valid_value(rng, coll, attr, typ, doc_id)))
    if coll == "customers" and r() < 0.3:
        fields.append(("address", {"city": f"City{ri(rng, 1, 50)}",
                                   "geo": {"lat": ri(rng, -90, 90)}}))
    elif coll == "orders" and r() < 0.5:
        fields.append(("items", [{"sku": ri(rng, 1, 999), "qty": ri(rng, 1, 5)}
                                 for _ in range(ri(rng, 1, 3))]))
    elif coll == "products" and r() < 0.4:
        fields.append(("extra_attr", {"nested": True,
                                      "tags": ["a", "b"][:ri(rng, 0, 2)]}))
    # Rotate the key order so documents are not all laid out alike.
    k = int(r() * len(fields)) if fields else 0
    text = "{" + ",".join(f'"{a}":{json_value(v)}'
                          for a, v in fields[k:] + fields[:k]) + "}"
    return text, oid, error, missing


class Unit:
    """One Pipeline.run input: per-collection documents and outcomes."""

    def __init__(self, rng, sizes, id_base):
        self.docs = {}
        self.outcomes = {}
        for coll, n in zip(COLLECTIONS, sizes):
            no_id_at = int(rng.random() * n)  # every collection has one id-less doc
            rows = [make_doc(rng, coll, id_base + k, k == no_id_at)
                    for k in range(n)]
            self.docs[coll] = [r[0] for r in rows]
            self.outcomes[coll] = [r[1:] for r in rows]
        self.unmapped = [json.dumps({"event": f"e{id_base + k}", "n": k},
                                    separators=(",", ":"))
                         for k in range(UNMAPPED_DOCS)]

    def envelope(self):
        parts = [f'"{c}":[' + ",".join(self.docs[c]) + "]" for c in COLLECTIONS]
        parts.append(f'"{UNMAPPED}":[' + ",".join(self.unmapped) + "]")
        return ("{" + ",".join(parts) + "}\n").encode("utf-8")

    def truth(self):
        """Counts every ETL run over this unit must reproduce."""
        t = {"docs": {}, "errors": {}, "docs_with_missing": {},
             "missing_columns": {}}
        for coll in COLLECTIONS:
            out = self.outcomes[coll]
            t["docs"][coll] = len(out)
            t["errors"][coll] = sum(1 for o in out if o[1])
            t["docs_with_missing"][coll] = sum(1 for o in out if o[2])
            t["missing_columns"][coll] = sorted({c for o in out for c in o[2]})
        return t


def etl_truth(unit_truth, first_run):
    """Expected observation for one Pipeline.run of a unit."""
    status = "NEW" if first_run else "ALREADY_EXISTS"
    statuses = {f"public.{c}": status for c in COLLECTIONS}
    statuses[MISSING_TABLE] = "MISSING"
    counters = [[c, unit_truth["docs"][c], unit_truth["errors"][c], 0,
                 unit_truth["docs"][c] - unit_truth["errors"][c]]
                for c in sorted(COLLECTIONS)]
    with_missing = [c for c in COLLECTIONS if unit_truth["docs_with_missing"][c]]
    audit = {}
    for c in COLLECTIONS:
        n, e = unit_truth["docs"][c], unit_truth["errors"][c]
        audit[f"public.{c}"] = {"error": e, "success": n - e,
                                "with_missing": unit_truth["docs_with_missing"][c]}
    audit[MISSING_TABLE] = {"missing": 1}
    return {
        "counters": counters,
        "object_statuses": statuses,
        "missing_collections": ["suppliers"],
        "unmapped_collections": [UNMAPPED],
        "rows": {**{f"public.{c}": unit_truth["docs"][c] for c in COLLECTIONS},
                 AUDIT_TABLE: sum(unit_truth["docs"].values()) + 1,
                 "doc_audit.missing_collections_report": len(COLLECTIONS) + 1,
                 "doc_audit.missing_attributes_report": len(with_missing)},
        "audit": audit,
    }


def write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def write_jsonl(dirpath, unit):
    for c in COLLECTIONS:
        write(os.path.join(dirpath, f"{c}.jsonl"),
              ("\n".join(unit.docs[c]) + "\n").encode("utf-8"))
    write(os.path.join(dirpath, f"{UNMAPPED}.jsonl"),
          ("\n".join(unit.unmapped) + "\n").encode("utf-8"))


def dashboard_truth(units):
    """Expected result of every dashboard query over the audit and
    target tables that loading `units` (one per DASH_DATES entry, in
    order) into a fresh Parquet sink leaves behind. Rows are lists of
    JSON values; timestamps render as ISO instants, dates as
    YYYY-MM-DD."""
    rows = []  # (date, object_id, collection, object_name, missing|None, status)
    for date, unit in zip(DASH_DATES, units):
        for coll in COLLECTIONS:
            for oid, err, miss in unit.outcomes[coll]:
                rows.append((date, oid, coll, f"public.{coll}", miss,
                             "error" if err else "success"))
        rows.append((date, None, "suppliers", MISSING_TABLE, None, "missing"))
    last = max(DASH_DATES)
    statuses = sorted({r[5] for r in rows})
    objects = sorted({r[3] for r in rows})

    def count(pred):
        return sum(1 for r in rows if pred(r))

    grouped = sorted(
        [d, c, count(lambda r: r[0] == d and r[2] == c),
         count(lambda r: r[0] == d and r[2] == c and r[5] == "error")]
        for d in DASH_DATES for c in COLLECTIONS + ("suppliers",))
    freq = {}
    for r in rows:
        for col in (r[4] or []):
            freq[col] = freq.get(col, 0) + 1
    landed = {(r[0], r[2]) for r in rows if r[5] != "missing"}
    full_outer = [
        [d, c, count(lambda r: r[0] == d and r[2] == c),
         count(lambda r: r[0] == d and r[2] == c) if (d, c) in landed else 0]
        for d in sorted(DASH_DATES, reverse=True)
        for c in sorted(COLLECTIONS + ("suppliers",))]
    counters = sorted(
        [c,
         count(lambda r: r[2] == c and r[5] != "missing"),
         count(lambda r: r[2] == c and r[5] == "error"),
         count(lambda r: r[2] == c and r[5] == "missing"),
         count(lambda r: r[2] == c and r[5] != "missing")
         - count(lambda r: r[2] == c and r[5] == "error")]
        for c in COLLECTIONS + ("suppliers",))
    union = sorted(
        [o, sorted({col for r in rows if r[3] == o for col in (r[4] or [])}),
         count(lambda r: r[3] == o and bool(r[4]))]
        for o in objects)
    latest = [r for r in rows if r[0] == last]
    latest.sort(key=lambda r: (r[3], r[1] is None, r[1] or ""))
    preview = [[f"{r[0]}T06:00:00Z", r[1], r[3], r[5]] for r in latest[:10]]
    return {
        "countOnLatestDate": [[len(latest)]],
        "maxDate": [[last]],
        "groupedConditionalCount": grouped,
        "pivotCountsDynamic": sorted(
            [o] + [count(lambda r: r[3] == o and r[5] == s) for s in statuses]
            for o in objects),
        "explodeFrequency": [[k, v] for k, v in
                             sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))],
        "kpiCounts": [[len(rows), count(lambda r: r[5] == "success"),
                       count(lambda r: bool(r[4]))]],
        "coverage": [["covered", len(COLLECTIONS)], ["missing", 1]],
        "fullOuterCounts": full_outer,
        "lookupRemap": sorted([o, o.split(".", 1)[1]] for o in objects),
        "runCounters": counters,
        "missingColumnsUnion": union,
        "preview": preview,
    }


def generate(seed, workload, out):
    """Write one workload's inputs for `seed` under `out`; return the
    ground truth (also written to out/truth.json)."""
    cfg = os.path.join(out, "config")
    write(os.path.join(cfg, "schema.sql"), SCHEMA_SQL.encode())
    write(os.path.join(cfg, "app_config.json"),
          json.dumps(app_config("config/schema.sql"), indent=2).encode())
    write(os.path.join(cfg, "mapping_config.json"),
          json.dumps(mapping_config(), indent=2).encode())
    truth = {"seed": seed, "workload": workload}
    if workload == "etl_pg_batches":
        truth["batches"] = []
        for b in range(N_BATCHES):
            unit = Unit(random.Random(f"{seed}:batch:{b}"), BATCH_DOCS, 1 + b * 1000)
            write(os.path.join(out, "batches", f"batch_{b:03d}.json"), unit.envelope())
            truth["batches"].append(unit.truth())
    elif workload == "audit_dashboard":
        units = []
        for i, _ in enumerate(DASH_DATES):
            unit = Unit(random.Random(f"{seed}:dash:{i}"), DASH_DOCS, 1)
            write_jsonl(os.path.join(out, "dash", f"date_{i}"), unit)
            units.append(unit)
        write(os.path.join(out, "dash", "dates.txt"), ("\n".join(DASH_DATES) + "\n").encode())
        truth["dates"] = list(DASH_DATES)
        truth["load"] = [etl_truth(u.truth(), first_run=i == 0)
                         for i, u in enumerate(units)]
        truth["queries"] = dashboard_truth(units)
        rng = random.Random(f"{seed}:order")
        order = []
        for _ in range(DASH_PASSES):
            p = list(QUERIES)
            rng.shuffle(p)
            order.extend(p)
        write(os.path.join(out, "queries.txt"), ("\n".join(order) + "\n").encode())
    else:
        raise SystemExit(f"unknown workload: {workload}")
    write(os.path.join(out, "truth.json"),
          json.dumps(truth, indent=1, sort_keys=True).encode())
    return truth


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.workload, a.out)


if __name__ == "__main__":
    main()
