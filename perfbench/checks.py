"""Correctness checks of one benchmark run against the generator's model.

Each check returns a list of human-readable mismatches; an empty list is a
pass. They read the pipeline's tables straight from parquet (pyarrow) and
the query oracles through DuckDB, never through the engine under test.
"""
import os

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _dataset(path):
    if not os.path.isdir(path) or not any(
            f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs):
        return None
    return ds.dataset(path, format="parquet", partitioning="hive",
                      exclude_invalid_files=True)


def _rows(path, columns):
    d = _dataset(path)
    return None if d is None else d.to_table(columns=columns)


def check_dw(dw_dir, model):
    """The DW holds exactly the model's keys, each with the model's newest
    event, GREATEST data_insercao, coalesced transportador and original
    data_nfe, stored in the nfe_month partition of that data_nfe."""
    t = _rows(dw_dir, ["chave_nfe", "data_ultima_ocr", "data_nfe",
                       "data_insercao", "transportador", "nfe_month"])
    if t is None:
        return [] if not model.dw else ["DW is missing"]
    secs = lambda c: pc.cast(pc.cast(t[c], "timestamp[s]"), "int64")  # noqa: E731
    got_keys = pc.cast(pc.utf8_slice_codeunits(t["chave_nfe"], 2), "int64").to_numpy()
    order = np.argsort(got_keys, kind="stable")
    got_keys = got_keys[order]
    if len(got_keys) > 1 and (got_keys[1:] == got_keys[:-1]).any():
        k = got_keys[1:][got_keys[1:] == got_keys[:-1]][0]
        return [f"DW holds key {gen.chave(int(k))} twice"]
    nfe_days = pc.cast(pc.cast(t["data_nfe"], "date32"), "int32").to_numpy()[order]
    month = np.asarray(t["nfe_month"].cast("string").to_pylist(), dtype=object)[order]
    cols = {
        "data_ultima_ocr": secs("data_ultima_ocr").to_numpy(zero_copy_only=False)[order],
        "data_nfe": nfe_days,
        "data_insercao": secs("data_insercao").to_numpy(zero_copy_only=False)[order],
        "transportador": np.asarray(t["transportador"].to_pylist(), dtype=object)[order],
    }
    want_keys = np.fromiter(sorted(model.dw), dtype=np.int64, count=len(model.dw))
    out = []
    missing = np.setdiff1d(want_keys, got_keys)
    extra = np.setdiff1d(got_keys, want_keys)
    if len(missing):
        out.append(f"DW: {len(missing)} model keys missing; first {gen.chave(int(missing[0]))}")
    if len(extra):
        out.append(f"DW: {len(extra)} keys the model does not have; first "
                   f"{gen.chave(int(extra[0]))}")
    if out:
        return out
    vals = [model.dw[k] for k in want_keys.tolist()]
    want = {
        "data_ultima_ocr": np.array([v[0] for v in vals], dtype=np.float64),
        "data_nfe": np.array([v[1] for v in vals]),
        "data_insercao": np.array([v[2] for v in vals]),
        "transportador": np.array([None if v[3] is None else gen.CARRIERS[v[3]]
                                   for v in vals], dtype=object),
    }
    for c, w in want.items():
        g = cols[c].astype(np.float64) if c == "data_ultima_ocr" else cols[c]
        bad = np.flatnonzero(g != w)
        if len(bad):
            i = bad[0]
            out.append(f"DW {c}: {len(bad)} keys differ from the model; first "
                       f"{gen.chave(int(want_keys[i]))}: got {g[i]}, want {w[i]}")
    wrong = [i for i, (m, d) in enumerate(zip(month, nfe_days.tolist()))
             if m != gen.month_of(d)]
    if wrong:
        i = wrong[0]
        out.append(f"DW: {len(wrong)} keys in the wrong nfe_month partition; first "
                   f"{gen.chave(int(got_keys[i]))} in {month[i]}, "
                   f"data_nfe month {gen.month_of(int(nfe_days[i]))}")
    return out


def check_hist(hist_dir, model):
    t = _rows(hist_dir, ["chave_nfe"])
    n = 0 if t is None else t.num_rows
    return [] if n == model.hist_rows else \
        [f"hist holds {n} rows, {model.hist_rows} were staged"]


def check_staging_empty(staging_dir):
    t = _rows(staging_dir, ["chave_nfe"])
    n = 0 if t is None else t.num_rows
    return [] if n == 0 else [f"staging holds {n} rows after archive"]


def check_routing(pipe_dir, model):
    """erros/ holds exactly the quarantined files and lidos/ the loaded ones."""
    out = []
    for sub, want in (("erros", model.quarantined), ("lidos", model.loaded)):
        d = os.path.join(pipe_dir, sub)
        got = set(os.listdir(d)) if os.path.isdir(d) else set()
        if got != want:
            out.append(f"{sub}/: unexpected {sorted(got - want)[:3]}, "
                       f"missing {sorted(want - got)[:3]}")
    return out


def check_cycle(rec, drop):
    """One cycle's own report against its drop."""
    if not rec.get("ok"):
        return [f"cycle {rec['round']} failed: {rec.get('error')}"]
    names = sorted(f["name"] for f in drop)
    good = sorted(f["name"] for f in drop if f["good"] and f["rows"])
    bad = sorted(set(names) - set(good))
    rows = sum(len(f["rows"]) for f in drop if f["good"])
    out = []
    if sorted(rec["downloaded"]) != names:
        out.append(f"staged {len(rec['downloaded'])} files, {len(names)} landed")
    if sorted(rec["loaded"]) != good or sorted(rec["quarantined"]) != bad:
        out.append(f"loaded {sorted(rec['loaded'])[:3]} / quarantined "
                   f"{sorted(rec['quarantined'])[:3]}, want {good[:3]} / {bad[:3]}")
    if rec["load_rows"] != rows or rec["archived"] != rows:
        out.append(f"loaded {rec['load_rows']} and archived {rec['archived']} "
                   f"rows, the drop has {rows}")
    if rec["lock_busy"]:
        out.append("a stage found the run lock busy")
    return [f"cycle {rec['round']}: {e}" for e in out]


def check_read(rec, expect):
    """A consumer read against the model state of its round. `expect` maps
    a group ("" or a month) to (rows, newest event)."""
    if not rec.get("ok"):
        return [f"read {rec['kind']} {rec['arg']} failed: {rec.get('error')}"]
    got = {g: (n, ev) for g, n, ev in rec["groups"] if n}
    want = {g: tuple(v) for g, v in expect.items() if v[0]}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()), key=str)[:2]
        return [f"read {rec['kind']} {rec['arg']} in round {rec['round']}: {diff}"]
    return []


def oracle_counts(tables_dir, oracle_sql, spill_dir):
    """Row count of each query's DuckDB oracle twin (name -> SQL or None)."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in oracle_sql.items():
        if sql is None:
            continue
        try:
            out[name] = con.execute(
                f"SELECT count(*) FROM ({sql}) AS oracle").fetchone()[0]
        except duckdb.Error as e:
            out[name] = f"oracle error: {e}"
    con.close()
    return out


def check_query(rec, oracle_rows):
    if not rec.get("ok"):
        return [f"query {rec['name']} failed: {rec.get('error')}"]
    if oracle_rows is None:
        return []
    if rec["rows"] != oracle_rows:
        return [f"query {rec['name']}: {rec['rows']} rows, oracle {oracle_rows}"]
    return []
