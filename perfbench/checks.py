"""Correctness gates: the program's outputs against DuckDB or against the
generator's own truth. Each gate returns a list of failures, one
``{"name": ..., "error": ...}`` per wrong result; an empty list passes.

Result comparison reuses the repository's oracle canonicalisation
(``tools/check.py``: column names sorted, int widths collapsed, rows
stringified and sorted), so a query that passes here passes the
registry's own oracle check.
"""
import glob
import importlib.util
import os

import duckdb

TABLES = ["customer", "orders", "lineitem", "events", "documents"]


def _load_canon(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon, mod.canon_type


def _views(con, data_dir):
    for t in TABLES:
        path = f"{data_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        if glob.glob(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")


def compare(con, canon, canon_type, got_sql, exp_sql):
    """None when the two relations agree on columns, types and rows."""
    got_rel = con.sql(got_sql)
    exp_rel = con.sql(exp_sql)
    gc, ec = sorted(got_rel.columns), sorted(exp_rel.columns)
    if gc != ec:
        return f"columns {gc} != {ec}"
    got_p = con.sql(f"SELECT {', '.join(gc)} FROM ({got_sql})")
    exp_p = con.sql(f"SELECT {', '.join(ec)} FROM ({exp_sql})")
    gt = [canon_type(str(t)) for t in got_p.types]
    et = [canon_type(str(t)) for t in exp_p.types]
    if gt != et:
        return f"types {gt} != {et}"
    got, exp = got_p.fetchall(), exp_p.fetchall()
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    cg, ce = canon(got), canon(exp)
    if cg != ce:
        bad = [(a, b) for a, b in zip(cg, ce) if a != b][:2]
        return f"values differ, first: {bad}"
    return None


def gate_query_mix(root, data_dir, gate):
    """Every query's parquet result against its registry oracle SQL."""
    canon, canon_type = _load_canon(root)
    con = duckdb.connect()
    _views(con, data_dir)
    fails = []
    for name, sql in sorted(gate["oracle_sql"].items()):
        path = f"{gate['results_dir']}/{name}"
        if name not in gate["ok"] or not glob.glob(f"{path}/*.parquet"):
            continue  # the exception is already counted
        try:
            err = compare(con, canon, canon_type,
                          f"SELECT * FROM '{path}/*.parquet'", sql)
        except Exception as e:  # noqa: BLE001 - a failed compare is a finding
            err = f"compare error: {e}"
        if err:
            fails.append({"name": name, "error": err})
    missing = set(gate["expected"]) - set(gate["oracle_sql"])
    fails += [{"name": n, "error": "no oracle SQL"} for n in sorted(missing)]
    return fails


def gate_stream_replay(gate, truth):
    """Store rows, dead letters, tiles and the checkpoint against the
    generator's truth."""
    fails = []
    got = {str(r["changeset"]): {k: r[k] for k in
                                 ("uid", "total", "nodes", "ways",
                                  "deletes", "sequences")}
           for r in gate["store"]}
    if got != truth["stats"]:
        diff = sorted(k for k in set(got) | set(truth["stats"])
                      if got.get(k) != truth["stats"].get(k))
        k = diff[0]
        fails.append({"name": "stats_topology", "error":
                      f"{len(diff)} changesets differ, e.g. {k}: "
                      f"{got.get(k)} != {truth['stats'].get(k)}"})
    if gate["dead"] != truth["dead"]:
        fails.append({"name": "stats_topology", "error":
                      f"dead letters {gate['dead']} != {truth['dead']}"})
    if gate["checkpoint"] != truth["sequences"] - 1:
        fails.append({"name": "stats_topology", "error":
                      f"checkpoint {gate['checkpoint']} != "
                      f"{truth['sequences'] - 1}"})
    for name, key, want in (
            ("edit_tiles", "edit_tiles",
             {f"{t}|edits": n for t, n in truth["edit_tiles"].items()}),
            ("faceted_tiles", "facet_tiles", truth["facet_tiles"])):
        have = {k: int(v) for k, v in gate[key].items()}
        if have != want:
            diff = sorted(k for k in set(have) | set(want)
                          if have.get(k) != want.get(k))
            fails.append({"name": name, "error":
                          f"{len(diff)} tile layers differ, e.g. {diff[0]}: "
                          f"{have.get(diff[0])} != {want.get(diff[0])}"})
    return fails
