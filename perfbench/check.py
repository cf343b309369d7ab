"""Output checks: a store directory against the expected-state model, and
analytics results against each query's DuckDB oracle SQL."""
import collections
import glob
import hashlib
import math
import os

import duckdb
import pandas as pd

import model

def _none(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NA:
        return None
    return v


def read_table(store, table, con):
    files = glob.glob(os.path.join(store, table, "**", "*.parquet"), recursive=True)
    if not files:
        return []
    df = con.execute("SELECT * FROM read_parquet(?, hive_partitioning = true, "
                     "union_by_name = true)", [files]).df()
    if "bucket" in df.columns:
        df = df.drop(columns=["bucket"])
    return [{k: _none(v) for k, v in r.items()} for r in df.to_dict("records")]


def check_store(store, m, excluded_uris=(), log=print):
    """Compare every table of `store` and the asset bytes with model `m`,
    ignoring rows of `excluded_uris`. Returns the list of mismatches and
    the message ids whose ledger row is wrong only in `terminal`, on an
    error `model.terminal_by_class_only` names (a known fault of the
    program: those messages count as failed, not as wrong output)."""
    con = duckdb.connect()
    bad = []

    def note(msg):
        if len(bad) < 20:
            log("  mismatch: " + msg)
        bad.append(msg)

    ex = set(excluded_uris)
    docs = {r["uri"]: r for r in read_table(store, "documents", con) if r["uri"] not in ex}
    for uri in set(docs) | set(m.documents):
        got, want = docs.get(uri), m.documents.get(uri)
        if got is None or want is None:
            note(f"documents: {uri} store={got is not None} model={want is not None}")
            continue
        for k, v in want.items():
            g = got.get(k)
            if k in ("automated", "is_published"):
                g = bool(g) if g is not None else None
            if g != v:
                note(f"documents[{uri}].{k}: store={str(g)[:80]!r} model={str(v)[:80]!r}")
    ids = {(r["document_uri"], r["id_kind"], r["id_value"], r["id_type"])
           for r in read_table(store, "identifiers", con) if r["document_uri"] not in ex}
    for row in ids ^ m.identifiers:
        note(f"identifiers: {row} only in {'store' if row in ids else 'model'}")
    props = {(r["uri"], r["name"]): r["value"]
             for r in read_table(store, "properties", con) if r["uri"] not in ex}
    if props != m.properties:
        for k in set(props) | set(m.properties):
            if props.get(k, "<absent>") != m.properties.get(k, "<absent>"):
                note(f"properties{k}: store={props.get(k, '<absent>')!r} "
                     f"model={m.properties.get(k, '<absent>')!r}")
    assets = {(r["uri"], r["asset_type"], r["dest_filename"]): r["src_member"]
              for r in read_table(store, "assets", con) if r["uri"] not in ex}
    if assets != m.assets:
        for k in set(assets) | set(m.assets):
            if assets.get(k, "<absent>") != m.assets.get(k, "<absent>"):
                note(f"assets{k}: store={assets.get(k, '<absent>')!r} "
                     f"model={m.assets.get(k, '<absent>')!r}")
    notes = collections.Counter(
        (r["uri"], r["action"], r["payload"], bool(r["delivered"]))
        for r in read_table(store, "notifications", con) if r["uri"] not in ex)
    for row in (notes - collections.Counter(m.notifications)) + \
            (collections.Counter(m.notifications) - notes):
        note(f"notifications: {row}")
    wrong_terminal = check_failures(read_table(store, "failures", con), m.failures, note)
    root = os.path.join(store, "asset_files")
    for (uri, dest), digest in m.asset_bytes.items():
        path = os.path.join(root, uri, dest)
        try:
            with open(path, "rb") as f:
                got = hashlib.md5(f.read()).hexdigest()
        except OSError:
            got = None
        if got != digest:
            note(f"asset bytes {uri}/{dest}: {'differ' if got else 'missing'}")
    return bad, wrong_terminal


def check_failures(rows, expected, note):
    """The ledger as a multiset. A fetch failure carries the file system's
    message after the modelled prefix, so it compares by prefix. A row the
    program marks non-terminal where the model's class-based lookup marks
    it terminal, on an error `model.terminal_by_class_only` names, is not
    noted: its message id is returned."""
    def key(msg_id, error, terminal):
        if error.startswith(model.FETCH_ERROR):
            error = model.FETCH_ERROR
        return (msg_id, error, bool(terminal))
    unsafe = {f[0] for f in expected if f[1] == model.UNSAFE_PATH}
    got = collections.Counter(key(r["msg_id"], r["error"], r["terminal"]) for r in rows
                              if r["msg_id"] not in unsafe)
    want = collections.Counter(key(*f) for f in expected if f[0] not in unsafe)
    wrong_terminal = []
    for msg_id, error, terminal in list(want - got):
        row = (msg_id, error, False)
        if terminal and model.terminal_by_class_only(error) and (got - want)[row] > 0:
            got[row] -= 1
            want[(msg_id, error, True)] -= 1
            wrong_terminal.append(msg_id)
    for row in (got - want) + (want - got):
        note(f"failures: {row} only in {'store' if got[row] > want[row] else 'model'}")
    return wrong_terminal


# ---------------------------------------------------------------- oracles

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (not isinstance(v, (list, tuple, dict)) and pd.isna(v)):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    out = df.map(cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def check_oracles(results_dir, tables_dir, oracle_sql, log=print):
    """Run each oracle statement in DuckDB over the same tables and compare
    with the Spark result exactly (columns by name, rows sorted). Returns
    the names that differ."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(results_dir, '.duckdb')}'")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        got = _canon(pd.read_parquet(os.path.join(results_dir, name)))
        want = _canon(con.sql(sql).df())
        if list(got.columns) != list(want.columns) or len(got) != len(want) \
                or not got.equals(want):
            log(f"  oracle mismatch: {name} spark rows={len(got)} duckdb rows={len(want)}")
            bad.append(name)
    return bad
