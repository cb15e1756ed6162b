#!/usr/bin/env python3
"""Dev-only replica of the driver's correctness gate (NOT part of the
engine). Runs Verify's parquet outputs against the DuckDB oracle SQL and
reports per-query row/schema/value diffs.

Driver fidelity note (r15 regression): the DRIVER's comparator loads
both sides into pandas and canonicalizes rows by sorting EVERY column
(`DataFrame.sort_values` over all columns). A column whose cells are
arrays/lists is unhashable there, so the driver ERRORS on any gated
query that emits an array column (r15's p21: "TypeError: unhashable
type: 'numpy.ndarray'"). This replica used to stringify cells before
sorting, which silently PASSED such queries — the replica said "175 ok"
while the driver errored. It now rejects non-scalar cells up front, so
a gated array column fails HERE first. Run `--selftest` to verify the
rejection path.

`--diff` is the bit-identical protocol for refactors: it compares two
Verify output dirs (before/after a change) query by query — column
names and types must match, and DuckDB `EXCEPT ALL` must be empty in
both directions (a multiset compare, so duplicate rows count).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
       python3 tools/check_oracle.py --diff <beforeOut> <afterOut>
       python3 tools/check_oracle.py --selftest
"""
import json, math, os, sys, tempfile
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return str(v)


def nonscalar_col(cols, rows):
    """First column holding an array/list/map cell, else None — these
    crash the driver's pandas sort_values (unhashable ndarray)."""
    for r in rows:
        for c, v in zip(cols, r):
            if isinstance(v, (list, tuple, dict, set, bytearray)):
                return c
            if type(v).__module__ == "numpy" and type(v).__name__ == "ndarray":
                return c
    return None


def compare(exp_cols, exp, got_cols, got):
    """Driver-semantics compare: (ok, message). Sort columns by name,
    compare value multisets; REJECT non-scalar cells like the driver
    does (it crashes; we fail loudly)."""
    for side, cols, rows in (("oracle", exp_cols, exp), ("spark", got_cols, got)):
        bad = nonscalar_col(cols, rows)
        if bad is not None:
            return (False,
                    f"{side} column '{bad}' is array-typed — the driver's "
                    "comparator crashes on array cells (unhashable ndarray "
                    "in sort_values); emit scalar columns instead")
    if sorted(exp_cols) != sorted(got_cols):
        return (False, f"cols {sorted(got_cols)} != {sorted(exp_cols)}")
    ei = [exp_cols.index(c) for c in sorted(exp_cols)]
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    es = sorted(tuple(norm(r[i]) for i in ei) for r in exp)
    gs = sorted(tuple(norm(r[i]) for i in gi) for r in got)
    if es != gs:
        diff = [(a, b) for a, b in zip(es, gs) if a != b][:3]
        extra = abs(len(es) - len(gs))
        return (False, f"rows exp={len(es)} got={len(gs)} "
                       f"first-diffs={diff} (+{extra} len diff)")
    return (True, f"{len(es)} rows")


def connect(sf_dir=None):
    """DuckDB connection, with the corpus tables as views when given."""
    con = duckdb.connect()
    if sf_dir is not None:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.execute(sql).fetchall()
            exp_cols = [d[0] for d in con.description]
            got_rel = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = [d[0] for d in got_rel.description]
            got = got_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_bad += 1
            continue
        ok, msg = compare(exp_cols, exp, got_cols, got)
        if ok:
            n_ok += 1
            print(f"ok   {name} ({msg})")
        else:
            n_bad += 1
            print(f"FAIL {name}: {msg}")
    print(f"== {n_ok} ok, {n_bad} bad")
    return 1 if n_bad else 0


def diff_one(con, before, after):
    """(identical, message) for one query's two output dirs."""
    a, b = f"'{before}/*.parquet'", f"'{after}/*.parquet'"
    try:
        sa = [r[:2] for r in con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()]
        sb = [r[:2] for r in con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()]
        if sa != sb:
            return (False, f"schema {sb} != {sa}")
        only = [con.execute(f"SELECT count(*) FROM (SELECT * FROM {x} "
                            f"EXCEPT ALL SELECT * FROM {y})").fetchone()[0]
                for x, y in ((a, b), (b, a))]
        rows = con.execute(f"SELECT count(*) FROM {a}").fetchone()[0]
    except Exception as e:
        return (False, str(e).splitlines()[0])
    if any(only):
        return (False, f"{only[0]} rows only before, {only[1]} only after")
    return (True, f"{rows} rows")


def diff(before_out, after_out):
    def queries(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    con = connect()
    n_same = n_diff = 0
    for name in sorted(queries(before_out) | queries(after_out)):
        same, msg = diff_one(con, f"{before_out}/{name}", f"{after_out}/{name}")
        if same:
            n_same += 1
            print(f"same {name} ({msg})")
        else:
            n_diff += 1
            print(f"DIFF {name}: {msg}")
    print(f"== {n_same} identical, {n_diff} differ")
    return 1 if n_diff else 0


def selftest():
    """The canonicalization cases the r15 divergence proved necessary."""
    # 1. an array column must FAIL even when both sides match textually
    arr = [("a", [1, 2, 3])]
    ok, msg = compare(["k", "top3"], arr, ["k", "top3"], arr)
    assert not ok and "array-typed" in msg, (ok, msg)
    # numpy ndarray cells (what pandas hands the driver) must also fail
    try:
        import numpy as np
        nd = [("a", np.array([1, 2, 3]))]
        ok, msg = compare(["k", "top3"], nd, ["k", "top3"], nd)
        assert not ok and "array-typed" in msg, (ok, msg)
    except ImportError:
        pass
    # 2. scalars still pass orderlessly (rows and columns permuted)
    ok, msg = compare(["k", "v"], [("a", 1.0), ("b", 2.0)],
                      ["v", "k"], [(2.0, "b"), (1.0, "a")])
    assert ok, (ok, msg)
    # 3. value mismatch still fails
    ok, msg = compare(["k"], [("a",)], ["k"], [("b",)])
    assert not ok, (ok, msg)
    # 4. column-name mismatch still fails
    ok, msg = compare(["k"], [("a",)], ["kk"], [("a",)])
    assert not ok and "cols" in msg, (ok, msg)
    # 5. --diff: identical outputs pass; a one-row difference, a
    # duplicated row and a type change are each caught
    con = connect()
    with tempfile.TemporaryDirectory() as tmp:
        def out(name, sql):
            os.makedirs(f"{tmp}/{name}")
            con.execute(f"COPY ({sql}) TO '{tmp}/{name}/part-0.parquet' (FORMAT PARQUET)")
            return f"{tmp}/{name}"
        base = "SELECT range AS k, range * 2 AS v FROM range(5)"
        ref = out("ref", base)
        assert diff_one(con, ref, out("same", base + " ORDER BY k DESC"))[0]
        ok, msg = diff_one(con, ref, out("row", base.replace("range * 2", "CASE WHEN range = 3 THEN 7 ELSE range * 2 END")))
        assert not ok and "1 rows only before, 1 only after" in msg, (ok, msg)
        ok, msg = diff_one(con, ref, out("dup", base + " UNION ALL SELECT 0, 0"))
        assert not ok and "0 rows only before, 1 only after" in msg, (ok, msg)
        ok, msg = diff_one(con, ref, out("type", "SELECT range AS k, CAST(range * 2 AS INT) AS v FROM range(5)"))
        assert not ok and "schema" in msg, (ok, msg)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
        sys.exit(selftest())
    if len(sys.argv) == 4 and sys.argv[1] == "--diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
