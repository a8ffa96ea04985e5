"""Seeded fixture generator for the `anonymize` benchmark.

Writes, for one (workload, seed, size), the input tree `graft.app.Main`
reads, the anonymization and validation TOML under the paths `Main.run`
expects (`<cfg>/sync/<db>-<schema>-sync.toml`,
`<cfg>/validations/<db>-<schema>.toml`) and a `manifest.json` with the
expected results: row counts after filter, limit and CDC, the surviving
DMS key set, and the digests of the files that must pass through
byte-identical. It does not call graft code.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DB, SCHEMA = "bench", "public"

# Rows per workload (orders for dms_cdc, tables for schema_many). A warm
# pii_wide or dms_cdc job takes 0.7 s on a quiet 4-core host and 1.3 s on
# a busy one, so a 12-second run times 9 to 17 jobs; a schema_many job
# takes 4 to 6 s.
SIZES = {"pii_wide": 150_000, "dms_cdc": 120_000, "schema_many": 32}

# Input words are built from syllables that never form a word of the
# program's own faker lists, so a faked cell can never equal its input.
SYLLABLES = np.array(
    ["vor", "kel", "zan", "mir", "tho", "rak", "bel", "dru", "fen", "gor",
     "hul", "jin", "kra", "lom", "nex", "pol", "quy", "ruv", "sel", "tav",
     "ulm", "vex", "wyn", "xad", "yor", "zel", "bri", "cav", "dov", "esk"])


def words(rng, n, parts, capital=True):
    """`n` distinct-looking words of `parts` syllables each."""
    w = pc.binary_join_element_wise(
        *[pa.array(SYLLABLES[rng.integers(0, len(SYLLABLES), n)])
          for _ in range(parts)], "")
    return pc.utf8_capitalize(w) if capital else w


def pick(rng, vocab, n):
    return vocab.take(pa.array(rng.integers(0, len(vocab), n)))


def strs(*parts):
    return pc.binary_join_element_wise(*parts, "")


def with_nulls(rng, arr, share):
    mask = pa.array(rng.random(len(arr)) < share)
    return pc.if_else(mask, pa.nulls(len(arr), arr.type), arr)


def digits(rng, n, width):
    return pc.utf8_lpad(
        pa.array(rng.integers(0, 10 ** width, n).astype(str)), width, "0")


def write_parts(table, dirpath, nfiles, name=lambda i: f"part-{i:05d}.parquet"):
    """Split `table` into `nfiles` Parquet files, as a DMS export is."""
    os.makedirs(dirpath, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, nfiles + 1).astype(int)
    for i in range(nfiles):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(dirpath, name(i)))


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def tree_digests(dirpath):
    return {os.path.relpath(os.path.join(d, f), dirpath): sha256(os.path.join(d, f))
            for d, _, fs in os.walk(dirpath) for f in sorted(fs)}


# ---- TOML writers -----------------------------------------------------

def toml_str(s):
    return json.dumps(s)


def table_toml(name, columns, filt=None, keep=None, sanitize=False):
    """One `[[tables]]` entry. `columns` is a list of
    (column, transformation dict, retain_if_empty)."""
    out = ["[[tables]]", f"table_name = {toml_str(name)}"]
    if keep is not None:
        out.append(f"keep_num_of_records = {keep}")
    if sanitize:
        out.append("sanitize_null_bytes = true")
    if filt is not None:
        out.append("[tables.filter_type]")
        out += [f"{k} = {json.dumps(v)}" for k, v in filt.items()]
    out += ["[tables.anonymization_type]", 'type = "Multi"']
    for col, tt, retain in columns:
        out += ["[[tables.anonymization_type.column_transformations]]",
                f"column_name = {toml_str(col)}"]
        if retain:
            out.append("retain_if_empty = true")
        out.append("[tables.anonymization_type.column_transformations.transformation_type]")
        out += [f"{k} = {toml_str(v)}" for k, v in tt.items()]
    return "\n".join(out) + "\n"


def custom(op):
    return {"type": "Custom", "operation_type": op}


def validation_toml(probes):
    out = []
    for query, column, value in probes:
        out += ["[[validations]]", f"query = {toml_str(query)}",
                f"column_to_check = {toml_str(column)}",
                "[validations.value_check_type]", 'type = "Equals"',
                f"value = {toml_str(value)}", ""]
    return "\n".join(out)


# ---- workloads --------------------------------------------------------

# Faker op per pii_wide column; the checker applies the matching rule.
PII_FAKERS = {
    "first_name": "fake_firstname_transformation",
    "last_name": "fake_lastname_transformation",
    "full_name": "fake_name_transformation",
    "company": "fake_companyname_transformation",
    "email": "fake_email_transformation",
    "address": "fake_address_transformation",
    "token": "fake_md5_transformation",
    "phone": "fake_phone_transformation",
    "emails": "fake_multi_email_transformation",
    "login": "fake_email_with_id_prefix_transformation",
}
PII_DROP_SEGMENTS = [3, 7]
# Faker kinds of the kernel and expr layers; each workload names the input
# column whose values its kernel probes use.
KERNEL_KINDS = ["first_name", "last_name", "name", "company_name", "email",
                "address", "uuid", "phone", "multi_email"]


def gen_pii_wide(rng, n, fx):
    first = words(rng, 4000, 2)
    last = words(rng, 12000, 3)
    ids = pa.array(np.arange(1, n + 1, dtype=np.int64))
    seg = pa.array(rng.integers(0, 10, n).astype(np.int32))
    mail = strs(pc.utf8_lower(pick(rng, first, n)), pa.array(["."] * n),
                pc.utf8_lower(pick(rng, last, n)), pa.array(["@mail.test"] * n))
    # multi-email cells hold 1 to 3 addresses: "{a@x,b@y}"
    k = rng.integers(1, 4, n)
    elems = [strs(pc.utf8_lower(pick(rng, last, n)), pa.array(["@corp.test"] * n))
             for _ in range(3)]
    multi = pc.if_else(pa.array(k == 1), elems[0], strs(elems[0], pa.array([","] * n), elems[1]))
    multi = pc.if_else(pa.array(k == 3), strs(multi, pa.array([","] * n), elems[2]), multi)
    multi = strs(pa.array(["{"] * n), multi, pa.array(["}"] * n))
    comment = strs(pick(rng, last, n), pa.array([" note "] * n), digits(rng, n, 6))
    nul = rng.random(n) < 0.01
    comment = pc.if_else(pa.array(nul), strs(comment, pa.array(["\x00tail"] * n)), comment)
    phone = strs(pa.array(["+1 ("] * n), digits(rng, n, 3), pa.array([") "] * n),
                 digits(rng, n, 3), pa.array(["-"] * n), digits(rng, n, 4))
    email = pc.if_else(pa.array(rng.random(n) < 0.05), pa.array([""] * n), mail)
    t = pa.table({
        "id": ids,
        "segment": with_nulls(rng, seg, 0.02),
        "first_name": pick(rng, first, n),
        "last_name": with_nulls(rng, pick(rng, last, n), 0.01),
        "full_name": strs(pick(rng, first, n), pa.array([" "] * n), pick(rng, last, n)),
        "company": strs(pick(rng, last, n), pa.array([" Works "] * n), digits(rng, n, 3)),
        "email": email,
        "address": strs(digits(rng, n, 3), pa.array([" "] * n), pick(rng, last, n),
                        pa.array([" Row, "] * n), pick(rng, first, n)),
        "token": pc.utf8_lower(strs(digits(rng, n, 16), digits(rng, n, 16))),
        "phone": phone,
        "emails": multi,
        "login": mail,
        "notes": strs(pa.array(["private "] * n), digits(rng, n, 8)),
        "secret": digits(rng, n, 12),
        "comment": comment,
        "country": pick(rng, words(rng, 40, 2), n),
        "balance": pa.array(np.round(rng.random(n) * 10000, 2)),
    })
    write_parts(t, os.path.join(fx, "input", "customers.parquet"), 8)
    cols = [(c, custom(op), c == "email") for c, op in PII_FAKERS.items()]
    cols += [("notes", {"type": "Replace", "replacement_value": "redacted"}, False),
             ("secret", {"type": "Nullify"}, False)]
    conf = table_toml("customers", cols, sanitize=True,
                      filt={"type": "AnyOfInt", "column": "segment",
                            "values": PII_DROP_SEGMENTS})
    probes = [("SELECT notes FROM customers", "notes", "redacted"),
              ("SELECT count(*) AS n FROM customers WHERE segment IN (3, 7)", "n", "0")]
    segv = np.array(t["segment"].to_numpy(zero_copy_only=False), dtype=float)
    kept = int(np.sum(np.isnan(segv) | ~np.isin(segv, PII_DROP_SEGMENTS)))
    tables = {"customers": {"rows_out": kept, "kind": "pii"}}
    kernel = {"first_name": "first_name", "last_name": "last_name", "name": "full_name",
              "company_name": "company", "email": "email", "address": "address",
              "uuid": "token", "phone": "phone", "multi_email": "emails"}
    return conf, probes, tables, {k: ["customers", c] for k, c in kernel.items()}, []


DMS_START, DMS_STOP = "20240102", "20240109"
DMS_DAYS = [f"202401{d:02d}" for d in range(1, 11)]   # first and last fall outside
DMS_PK = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"]}
DMS_VALUE = {"orders": "o_totalprice", "lineitem": "l_quantity"}


def gen_dms_cdc(rng, n_orders, fx):
    clerks = strs(pa.array(["Clerk#"] * 1000), digits(rng, 1000, 9))
    comments = words(rng, 5000, 4, capital=False)

    def orders(keys):
        m = len(keys)
        return pd.DataFrame({
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(1, 50_000, m).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), m),
            "o_totalprice": np.round(rng.random(m) * 500_000, 2),
            "o_orderdate": rng.integers(0, 2500, m).astype(np.int32),
            "o_clerk": pick(rng, clerks, m).to_numpy(zero_copy_only=False),
            "o_comment": pick(rng, comments, m).to_numpy(zero_copy_only=False),
        })

    def lineitems(okeys):
        lines = rng.integers(1, 8, len(okeys))
        lk = np.repeat(okeys, lines)
        ln = np.concatenate([np.arange(1, c + 1) for c in lines]) if len(okeys) else np.array([])
        m = len(lk)
        return pd.DataFrame({
            "l_orderkey": lk.astype(np.int64),
            "l_linenumber": ln.astype(np.int32),
            "l_partkey": rng.integers(1, 200_000, m).astype(np.int64),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": np.round(rng.random(m) * 100_000, 2),
            "l_shipmode": rng.choice(np.array(["AIR", "MAIL", "SHIP", "RAIL", "TRUCK"]), m),
            "l_comment": pick(rng, comments, m).to_numpy(zero_copy_only=False),
        })

    load = {"orders": orders(np.arange(1, n_orders + 1)),
            "lineitem": lineitems(np.arange(1, n_orders + 1))}
    make = {"orders": lambda keys: orders(keys),
            "lineitem": lambda keys: lineitems(keys)}
    tables, expect_cols = {}, {}
    for name, base in load.items():
        d = os.path.join(fx, "input", name)
        write_parts(pa.Table.from_pandas(base, preserve_index=False), d,
                    8 if name == "lineitem" else 4,
                    name=lambda i: f"LOAD{i + 1:08d}.parquet")
        pk = DMS_PK[name]
        # hot keys: a tenth of a percent of the table takes half the updates
        hot = base.sample(n=max(1, len(base) // 1000), random_state=int(rng.integers(1 << 31)))
        new_key = n_orders + 1
        in_window = []
        for fi, day in enumerate(DMS_DAYS):
            per_file = max(1, len(base) // 100)
            upd = base.sample(n=per_file // 2, random_state=int(rng.integers(1 << 31)))
            hot_upd = hot.sample(n=per_file // 2, replace=True,
                                 random_state=int(rng.integers(1 << 31)))
            dele = base.sample(n=per_file // 10, random_state=int(rng.integers(1 << 31)))
            ins = make[name](np.arange(new_key, new_key + per_file // 10 // (1 if name == "orders" else 4) + 1))
            new_key += len(np.unique(ins[pk[0]]))
            # updates carry fresh payload values under the old keys
            fresh = make[name](np.arange(1, len(upd) + len(hot_upd) + 1))
            fresh = fresh.iloc[:len(upd) + len(hot_upd)].reset_index(drop=True)
            keys = pd.concat([upd[pk], hot_upd[pk]], ignore_index=True)
            for c in pk:
                fresh[c] = keys[c].to_numpy()
            parts = [fresh.assign(Op="U"), dele.assign(Op="D"), ins.assign(Op="I")]
            cdc = pd.concat(parts, ignore_index=True)
            cdc = cdc.sample(frac=1.0, random_state=int(rng.integers(1 << 31))).reset_index(drop=True)
            # unique, increasing ingestion timestamps: the latest op per key is unambiguous
            cdc["_dms_ingestion_timestamp"] = np.int64(fi) * 10_000_000 + np.arange(len(cdc), dtype=np.int64)
            cdc = cdc[list(base.columns) + ["Op", "_dms_ingestion_timestamp"]]
            pq.write_table(pa.Table.from_pandas(cdc, preserve_index=False),
                           os.path.join(d, f"{day}-{fi:04d}.parquet"))
            if DMS_START <= day <= DMS_STOP:
                in_window.append(cdc)
        delta = pd.concat(in_window, ignore_index=True)
        latest = delta.sort_values("_dms_ingestion_timestamp").groupby(pk, sort=False).tail(1)
        touched = latest[pk]
        survivors = base.merge(touched, on=pk, how="left", indicator=True)
        survivors = survivors[survivors["_merge"] == "left_only"][list(base.columns)]
        upserts = latest[latest["Op"].isin(["I", "U"])][list(base.columns)]
        final = pd.concat([survivors, upserts], ignore_index=True)
        os.makedirs(os.path.join(fx, "expected"), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(final[pk + [DMS_VALUE[name]]], preserve_index=False),
                       os.path.join(fx, "expected", f"{name}.parquet"))
        tables[name] = {"rows_out": int(len(final)), "kind": "dms",
                        "pk": pk, "value": DMS_VALUE[name]}
        expect_cols[name] = list(base.columns)
    conf = (table_toml("orders", [("o_clerk", custom("fake_name_transformation"), False)])
            + "\n" + table_toml("lineitem", [("l_comment", {"type": "Replace",
                                                            "replacement_value": "redacted"}, False)]))
    probes = [("SELECT l_comment FROM lineitem", "l_comment", "redacted"),
              ("SELECT count(*) AS n FROM orders WHERE o_orderkey IS NULL", "n", "0")]
    extra = ["--dms", "--mode", "date-aware", "--start-date", DMS_START, "--stop-date", DMS_STOP,
             "--pk", ";".join(f"{t}={','.join(k)}" for t, k in DMS_PK.items()),
             "--expect-cols", ";".join(f"{t}={','.join(c)}" for t, c in expect_cols.items())]
    kernel = {k: ["orders", "o_clerk"] for k in KERNEL_KINDS}
    return conf, probes, tables, kernel, extra


MANY_DROP_GROUP = [1]
MANY_KEEP = 300


def gen_schema_many(rng, n_tables, fx):
    vocab = words(rng, 3000, 3)
    conf, probes, tables = [], [], {}
    for i in range(n_tables):
        name = f"t{i:02d}"
        # the table's shape (rows, width, files) depends on its index only,
        # so every seed asks for the same work; the seed picks the values
        shape = np.random.default_rng(i)
        m = int(shape.integers(800, 3000))
        cols = {
            "id": pa.array(np.arange(1, m + 1, dtype=np.int64)),
            "grp": with_nulls(rng, pa.array(rng.integers(0, 4, m).astype(np.int32)), 0.05),
            "name": strs(pick(rng, vocab, m), pa.array([" "] * m), pick(rng, vocab, m)),
            "email": strs(pc.utf8_lower(pick(rng, vocab, m)), pa.array(["@many.test"] * m)),
            "amount": pa.array(np.round(rng.random(m) * 1000, 2)),
        }
        for j in range(int(shape.integers(0, 12))):   # tables differ in width
            cols[f"c{j}"] = pa.array(rng.integers(0, 1 << 30, m).astype(np.int64))
        t = pa.table(cols)
        d = os.path.join(fx, "input", f"{name}.parquet")
        write_parts(t, d, int(shape.integers(2, 5)))
        if i % 4:
            tables[name] = {"rows_out": m, "kind": "copy", "digests": tree_digests(d)}
            continue
        fakes = [("name", custom("fake_name_transformation"), False),
                 ("email", custom("fake_email_transformation"), False)]
        if i % 16 == 0:
            # record reduction: no filter, so the kept count is exact
            conf.append(table_toml(name, fakes, keep=MANY_KEEP))
            probes.append((f"SELECT count(*) AS n FROM {name}", "n", str(min(m, MANY_KEEP))))
            tables[name] = {"rows_out": min(m, MANY_KEEP), "kind": "faked", "limited": True}
        else:
            conf.append(table_toml(name, fakes, filt={"type": "AnyOfInt", "column": "grp",
                                                      "values": MANY_DROP_GROUP}))
            probes.append((f"SELECT count(*) AS n FROM {name} WHERE grp = 1", "n", "0"))
            g = np.array(t["grp"].to_numpy(zero_copy_only=False), dtype=float)
            kept = int(np.sum(np.isnan(g) | ~np.isin(g, MANY_DROP_GROUP)))
            tables[name] = {"rows_out": kept, "kind": "faked"}
    kernel = {k: ["t00", "name"] for k in KERNEL_KINDS}
    return "\n".join(conf), probes, tables, kernel, []


WORKLOADS = {"pii_wide": gen_pii_wide, "dms_cdc": gen_dms_cdc, "schema_many": gen_schema_many}


def generate(workload, seed, out):
    """Write the fixture into `out` (replaced if present)."""
    if os.path.exists(out):
        shutil.rmtree(out)
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    conf, probes, tables, kernel, extra = WORKLOADS[workload](rng, SIZES[workload], out)
    for sub, name, text in (("sync", f"{DB}-{SCHEMA}-sync.toml", conf),
                            ("validations", f"{DB}-{SCHEMA}.toml", validation_toml(probes))):
        os.makedirs(os.path.join(out, "config", sub), exist_ok=True)
        with open(os.path.join(out, "config", sub, name), "w") as f:
            f.write(text)
    rows = nbytes = files = 0
    for d, _, fs in os.walk(os.path.join(out, "input")):
        for f in fs:
            p = os.path.join(d, f)
            rows += pq.ParquetFile(p).metadata.num_rows
            nbytes += os.path.getsize(p)
            files += 1
    manifest = {
        "workload": workload, "seed": seed, "size": SIZES[workload],
        "db": DB, "schema": SCHEMA, "dms": bool(extra), "main_extra_args": extra,
        "tables": tables, "probes": len(probes),
        "input_rows": rows, "input_bytes": nbytes, "input_files": files,
        "kernel_columns": kernel, "fakers": PII_FAKERS,
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
