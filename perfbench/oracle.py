#!/usr/bin/env python3
"""Expected results for the query workloads, computed by DuckDB.

Each query's `Manifest.oracleSql` runs in DuckDB over the sf0.1 parquet in
`perfbench/data/sf0.1`. The result is canonicalized with
`scripts/check_oracle.py`'s `canon` (columns sorted by name, rows sorted,
floats at 9 significant digits) and stored as a digest in
`perfbench/expected/oracle.json`. An entry is keyed on the SQL text and on
a fingerprint of the input files: a missing or stale entry is rebuilt,
never skipped.

Rebuild every entry the workloads use:

    python3 perfbench/oracle.py [--force]

`--force` recomputes entries that are still fresh; entries of queries no
workload lists are dropped. The command builds the program first, because
the oracle SQL is read from its classes.
"""
import hashlib
import json
import os
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))

try:
    from check_oracle import canon
except ModuleNotFoundError as e:
    raise SystemExit(f"{e}: run from the root of a checkout of the program")

DATA = os.path.join(HERE, "data", "sf0.1")
CACHE = os.path.join(HERE, "expected", "oracle.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_fp = None


def input_fingerprint():
    """sha256 over every input table's name and bytes."""
    global _fp
    if _fp is None:
        h = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(DATA, f"{t}.parquet"), "rb") as f:
                h.update(t.encode() + b"\0" + f.read())
        _fp = h.hexdigest()[:32]
    return _fp


def sql_key(sql):
    return hashlib.sha256(sql.strip().encode()).hexdigest()[:32]


def summarize(raw):
    """The comparable summary of a result frame: columns, dtype kinds,
    row count and a digest of the canonical rows."""
    c = canon(raw)
    digest = hashlib.sha256(c.to_csv(index=False).encode()).hexdigest()
    return {"columns": list(c.columns),
            "kinds": {k: raw[k].dtype.kind for k in sorted(raw.columns)},
            "rows": len(c), "digest": digest}


def compare(expected, got):
    """None when `got` matches `expected`, else a one-line reason. Integer
    and unsigned kinds are interchangeable, as in check_oracle.py."""
    if got["columns"] != expected["columns"]:
        return f"columns differ: oracle={expected['columns']} got={got['columns']}"
    bad = [c for c in expected["columns"]
           if expected["kinds"][c] != got["kinds"][c]
           and {expected["kinds"][c], got["kinds"][c]} - {"i", "u"}]
    if bad:
        return f"dtype kinds differ on {bad}"
    if got["rows"] != expected["rows"]:
        return f"rows differ: oracle={expected['rows']} got={got['rows']}"
    if got["digest"] != expected["digest"]:
        return "row values differ"
    return None


def connect(tmp_dir):
    import duckdb
    con = duckdb.connect(config={"temp_directory": tmp_dir})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(DATA, t)}.parquet'")
    return con


def load_cache():
    try:
        with open(CACHE) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def ensure(oracle_sql, names, tmp_dir, force=False, prune=False, log=print):
    """Return {name: expected summary} for `names`, rebuilding any entry
    whose SQL or input fingerprint changed (or all of them with `force`).
    `prune` drops the entries of queries outside `names`."""
    cache = load_cache()
    if prune and set(cache) - set(names):
        cache = {k: v for k, v in cache.items() if k in names}
        changed = True
    else:
        changed = False
    fp = input_fingerprint()
    con = None
    out = {}
    for name in names:
        if name not in oracle_sql:
            raise SystemExit(f"{name}: the program declares no oracle SQL")
        sql = oracle_sql[name]
        entry = cache.get(name)
        if force or not entry or entry.get("sql") != sql_key(sql) \
                or entry.get("input") != fp:
            if con is None:
                con = connect(tmp_dir)
            log(f"oracle: computing {name}")
            entry = {"sql": sql_key(sql), "input": fp,
                     **summarize(con.sql(sql).df())}
            cache[name] = entry
            changed = True
        out[name] = entry
    if changed:
        tmp = CACHE + ".tmp"
        with open(tmp, "w") as f:
            json.dump(dict(sorted(cache.items())), f, indent=1)
            f.write("\n")
        os.replace(tmp, CACHE)
    if con is not None:
        con.close()
    return out


def main(argv):
    sys.path.insert(0, HERE)
    import build
    import workloads
    root = os.path.dirname(HERE)
    out = build.ensure_built(root)
    sql = build.oracle_sql(out)
    names = sorted(q for qs in workloads.QUERIES.values() for q in qs)
    got = ensure(sql, names, build.tmp_dir(out), force="--force" in argv, prune=True)
    print(f"{len(got)} oracle entries fresh in {os.path.relpath(CACHE, root)}")


if __name__ == "__main__":
    main(sys.argv[1:])
