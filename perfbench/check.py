"""Output checker of the `anonymize` benchmark, independent of Spark.

Reads one job's output directory with DuckDB and compares it with the
fixture's inputs and `manifest.json` (see gen.py):

- row counts after filter, limit and CDC;
- the DMS key set, with one payload column, equals the expected set;
- faked columns differ from their inputs on non-empty cells and keep
  their shape (phone digit layout, multi-email element count, `id-`
  prefix, UUID form); replaced, nulled, sanitized and untouched columns
  hold what they should;
- pass-through tables are byte-identical to their inputs.

Across the jobs of one run, an order-independent digest of each table
must not change: repeated jobs write the same rows. `self_test`
corrupts a copy of one output table of each kind and reports every
corruption the checker misses.
"""

import os
import shutil
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from gen import sha256


def data_files(d):
    """The data files of a table directory: hidden and marker files
    (`.crc`, `_SUCCESS`) are not part of the table."""
    return sorted(f for f in os.listdir(d) if not f.startswith((".", "_")))


def scan(d):
    return f"read_parquet('{d}/*.parquet')"


def one(con, sql):
    return con.execute(sql).fetchone()


def fake_rules(c):
    """Violations of one faked column `c` (input alias i, output alias o)."""
    return (f"(i.{c} IS NULL AND o.{c} IS NOT NULL) OR "
            f"(i.{c} IS NOT NULL AND i.{c} <> '' AND (o.{c} IS NULL OR o.{c} = i.{c}))")


PII_SHAPES = {
    "email": "i.email = '' AND o.email <> ''",
    "phone": ("i.phone IS NOT NULL AND (regexp_replace(o.phone, '[0-9]', '#', 'g') <> "
              "regexp_replace(i.phone, '[0-9]', '#', 'g') OR len(list_filter("
              "range(1, length(i.phone) + 1), k -> substr(i.phone, k, 1) BETWEEN '0' AND '9' "
              "AND substr(i.phone, k, 1) = substr(o.phone, k, 1))) > 0)"),
    "emails": ("i.emails IS NOT NULL AND (NOT (starts_with(o.emails, '{') AND ends_with(o.emails, '}')) "
               "OR len(string_split(o.emails, ',')) <> len(string_split(i.emails, ',')))"),
    "login": "i.login IS NOT NULL AND NOT starts_with(o.login, CAST(i.id AS VARCHAR) || '-')",
    "token": ("i.token IS NOT NULL AND NOT regexp_matches(o.token, "
              "'^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$')"),
}
PII_SAME = ["country", "balance", "segment"]


def check_pii(con, fx, out, t, meta, manifest):
    rules = [f"({fake_rules(c)})" for c in manifest["fakers"] if c != "login"]
    rules += [f"({r})" for r in PII_SHAPES.values()]
    rules += [f"(o.{c} IS DISTINCT FROM i.{c})" for c in PII_SAME]
    rules += ["(o.segment IN (3, 7))", "(o.notes IS DISTINCT FROM 'redacted')",
              "(o.secret IS NOT NULL)",
              "(CASE WHEN contains(i.comment, chr(0)) THEN o.comment IS NOT NULL "
              "ELSE o.comment IS DISTINCT FROM i.comment END)"]
    n, unmatched, bad = one(con, f"""
        SELECT count(*), count(*) FILTER (WHERE i.id IS NULL),
               count(*) FILTER (WHERE {' OR '.join(rules)})
        FROM {scan(out)} o LEFT JOIN {scan(fx + '/input/' + t + '.parquet')} i USING (id)""")
    return [f"{t}: {m}" for m, bad_ in (
        (f"{n} rows, expected {meta['rows_out']}", n != meta["rows_out"]),
        (f"{unmatched} rows with no input row", unmatched),
        (f"{bad} rows break a column rule", bad)) if bad_]


def check_dms(con, fx, out, t, meta, manifest):
    cols = ", ".join(meta["pk"] + [meta["value"]])
    exp = f"read_parquet('{fx}/expected/{t}.parquet')"
    n, = one(con, f"SELECT count(*) FROM {scan(out)}")
    extra, = one(con, f"SELECT count(*) FROM (SELECT {cols} FROM {scan(out)} EXCEPT ALL SELECT {cols} FROM {exp})")
    missing, = one(con, f"SELECT count(*) FROM (SELECT {cols} FROM {exp} EXCEPT ALL SELECT {cols} FROM {scan(out)})")
    rule = {"orders": "o_clerk IS NULL OR starts_with(o_clerk, 'Clerk#')",
            "lineitem": "l_comment IS DISTINCT FROM 'redacted'"}[t]
    bad, = one(con, f"SELECT count(*) FROM {scan(out)} WHERE {rule}")
    return [f"{t}: {m}" for m, b in (
        (f"{n} rows, expected {meta['rows_out']}", n != meta["rows_out"]),
        (f"{extra} rows not in the expected key set", extra),
        (f"{missing} expected rows missing", missing),
        (f"{bad} rows break a column rule", bad)) if b]


def check_faked(con, fx, out, t, meta, manifest):
    n, unmatched, bad = one(con, f"""
        SELECT count(*), count(*) FILTER (WHERE i.id IS NULL),
               count(*) FILTER (WHERE ({fake_rules('name')}) OR ({fake_rules('email')})
                                   OR o.grp IS DISTINCT FROM i.grp
                                   OR (NOT {str(bool(meta.get('limited'))).upper()} AND o.grp = 1))
        FROM {scan(out)} o LEFT JOIN {scan(fx + '/input/' + t + '.parquet')} i USING (id)""")
    return [f"{t}: {m}" for m, b in (
        (f"{n} rows, expected {meta['rows_out']}", n != meta["rows_out"]),
        (f"{unmatched} rows with no input row", unmatched),
        (f"{bad} rows break a column rule", bad)) if b]


def check_copy(con, fx, out, t, meta, manifest):
    got = {f: sha256(os.path.join(out, f)) for f in data_files(out)}
    return [] if got == meta["digests"] else [f"{t}: pass-through copy is not byte-identical"]


CHECKS = {"pii": check_pii, "dms": check_dms, "faked": check_faked, "copy": check_copy}


def check_table(con, fx, out_root, t, manifest):
    meta = manifest["tables"][t]
    out = os.path.join(out_root, f"{t}.parquet")
    if not os.path.isdir(out) or not data_files(out):
        return [f"{t}: no output"]
    try:
        return CHECKS[meta["kind"]](con, fx, out, t, meta, manifest)
    except duckdb.Error as e:
        return [f"{t}: unreadable output: {e}"]


def digest(con, out):
    n, h = one(con, f"SELECT count(*), CAST(sum(hash(t)) AS VARCHAR) FROM {scan(out)} t")
    return f"{n}:{h}"


def check_jobs(fx, manifest, passes):
    """Checks the output of every job of a run (`passes`: dicts with `out`
    and `error`): the first clean job in full, the others by digest against
    it (equal digests mean equal rows); tables whose rows are not fixed
    (limit without order) and pass-through copies in full every time.
    Returns (failed operations, write amplification per job, the clean
    job's output directory or None)."""
    con = duckdb.connect()
    ref, ref_out, failed, amps = None, None, 0, []
    for p in passes:
        fails, digests, nbytes = {}, {}, 0
        for t, meta in sorted(manifest["tables"].items()):
            out = os.path.join(p["out"], f"{t}.parquet")
            if not os.path.isdir(out):
                fails[t] = [f"{t}: no output"]
                continue
            nbytes += sum(os.path.getsize(os.path.join(out, f)) for f in data_files(out))
            if ref is None or meta.get("limited") or meta["kind"] == "copy":
                fails[t] = check_table(con, fx, p["out"], t, manifest)
                if ref is None and not fails[t]:
                    digests[t] = digest(con, out)
            else:
                same = digest(con, out) == ref[t]
                fails[t] = [] if same else [f"{t}: rows differ from the first job"]
        job = os.path.join(*p["out"].split(os.sep)[-2:])
        bad = [m for ms in fails.values() for m in ms]
        for m in bad:
            sys.stderr.write(f"check failed ({job}): {m}\n")
        failed += sum(1 for ms in fails.values() if ms)
        if p["error"]:
            sys.stderr.write(f"job failed ({job}): {p['error']}\n")
            failed += manifest["probes"]
        elif ref is None and not bad:
            ref, ref_out = digests, p["out"]
        amps.append(nbytes / manifest["input_bytes"])
    return failed, amps, ref_out


def corrupt(con, fx, d, t, meta):
    """Damage one cell (one byte for copies) of the first data file."""
    f = os.path.join(d, data_files(d)[0])
    if meta["kind"] == "copy":
        with open(f, "r+b") as h:
            h.seek(os.path.getsize(f) // 2)
            b = h.read(1)
            h.seek(-1, 1)
            h.write(bytes([b[0] ^ 0xFF]))
        return
    tbl = pq.read_table(f)
    if meta["kind"] == "dms":
        c = meta["value"]
        vals = tbl[c].to_pylist()
        vals[0] = vals[0] + 1.0
    else:
        c = "first_name" if meta["kind"] == "pii" else "name"
        vals = tbl[c].to_pylist()
        id0 = tbl["id"][0].as_py()
        vals[0], = one(con, f"SELECT {c} FROM {scan(fx + '/input/' + t + '.parquet')} WHERE id = {id0}")
    tbl = tbl.set_column(tbl.schema.get_field_index(c), c, pa.array(vals, tbl[c].type))
    pq.write_table(tbl, f)


def self_test(fx, out_root, manifest, scratch):
    """Corrupts a copy of one table of each kind; returns the kinds whose
    corruption the checker missed."""
    con = duckdb.connect()
    missed = []
    for kind in sorted({m["kind"] for m in manifest["tables"].values()}):
        t = sorted(n for n, m in manifest["tables"].items() if m["kind"] == kind)[0]
        d = os.path.join(scratch, "selftest")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(os.path.join(out_root, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
        if check_table(con, fx, d, t, manifest):
            missed.append(f"{kind}: clean copy failed the check")
            continue
        corrupt(con, fx, os.path.join(d, f"{t}.parquet"), t, manifest["tables"][t])
        if not check_table(con, fx, d, t, manifest):
            missed.append(kind)
        shutil.rmtree(d, ignore_errors=True)
    return missed
