"""Output checks: registered-query results against the expected results
kept under expected/, in the canonical form of tools/check_oracle.py
(columns sorted by name, rows sorted, floats equal to a relative 1e-9,
everything else compared as text).

Small results are kept row by row; results above MAX_ROWS rows are kept
as a row count plus a digest of the canonical rows with floats rendered
to 9 significant digits.
"""
import gzip
import hashlib
import json
import math
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected")
MAX_ROWS = 2000


def _value(x):
    return x if x is None or isinstance(x, float) else str(x)


def canon(cols, rows):
    """check_oracle.canon, with non-float values turned to text."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), out


def values_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return str(a) == str(b)


def digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(f"{x:.9g}" if isinstance(x, float) else x
                            for x in r)).encode())
    return h.hexdigest()


def summarize(cols, rows):
    """The form a result is kept in under expected/."""
    cols, rows = canon(cols, rows)
    if len(rows) <= MAX_ROWS:
        return {"columns": cols, "n_rows": len(rows), "rows": rows}
    return {"columns": cols, "n_rows": len(rows), "digest": digest(rows)}


def compare(expected, cols, rows):
    """None when (cols, rows) matches the kept result, else why not."""
    cols, rows = canon(cols, rows)
    if cols != expected["columns"]:
        return f"columns {cols} != expected {expected['columns']}"
    if len(rows) != expected["n_rows"]:
        return f"{len(rows)} rows != expected {expected['n_rows']}"
    if "digest" in expected:
        return None if digest(rows) == expected["digest"] else "row digest differs"
    for i, (a, b) in enumerate(zip(rows, expected["rows"])):
        if not all(values_equal(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != expected {tuple(b)}"
    return None


def read_dump(path):
    """(cols, rows) of a result dumped as parquet by the harness."""
    con = duckdb.connect()
    rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return [d[0] for d in rel.description], rel.fetchall()


def expected_path(name, sf):
    return os.path.join(EXPECTED, f"sf{sf}", f"{name}.json.gz")


def load_expected(name, sf):
    p = expected_path(name, sf)
    if not os.path.exists(p):
        return None
    with gzip.open(p, "rt", encoding="utf-8") as f:
        return json.load(f)


def save_expected(name, sf, summary):
    os.makedirs(os.path.dirname(expected_path(name, sf)), exist_ok=True)
    # mtime=0: the same result always gives the same file bytes
    with open(expected_path(name, sf), "wb") as raw, \
            gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
        f.write(json.dumps(summary, ensure_ascii=False, sort_keys=True).encode())


def grade(records, truth, sf):
    """Failure reason per failed check: {(kind, name): reason}.

    dump        registered query result vs expected/sf<sf>/<name>.json.gz
    approx      sketch/sample value inside its Verify.approxBoundRows envelope
    silver_rows silver rows per crawl date vs the bronze generator
    gold_price  sampled gold price_per_m2 vs the bronze generator
    """
    bad = {}
    seen_dates, seen_addrs = set(), set()
    for r in records:
        key = (r["kind"], r["name"])
        if "error" in r:
            bad[key] = r["error"]
        elif r["kind"] == "dump":
            exp = load_expected(r["name"], sf)
            why = ("no expected result kept" if exp is None
                   else compare(exp, *read_dump(r["path"])))
            if why:
                bad[key] = why
        elif r["kind"] == "approx":
            if not r["within"]:
                bad[key] = f"{r['metric']}={r['value']} not in [{r['lo']}, {r['hi']}]"
        elif r["kind"] == "silver_rows":
            seen_dates.add(r["name"])
            want = truth["silver_rows"].get(r["name"])
            if r["rows"] != want:
                bad[key] = f"{r['rows']} silver rows != expected {want}"
        elif r["kind"] == "gold_price":
            seen_addrs.add(r["name"])
            want, n = truth["gold_price"].get(r["name"]), truth["gold_count"].get(r["name"])
            got = r["values"]
            if (want is None or len(got) != n
                    or not all(any(values_equal(g, w) for w in want) for g in got)):
                bad[key] = f"price_per_m2 {got} != expected {want} x{n}"
    if truth:
        for d in set(truth["silver_rows"]) - seen_dates:
            bad[("silver_rows", d)] = "crawl date missing from silver"
        for a in set(truth["gold_price"]) - seen_addrs:
            bad[("gold_price", a)] = "sampled listing missing from gold"
    return bad
