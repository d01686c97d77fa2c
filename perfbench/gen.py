"""Seeded input generators for the graft benchmark.

Everything the benchmark feeds the program comes from here, and only
from the seed: the same seed writes byte-identical files, another seed
writes different ones.

* ``write_tables`` writes the TPC-H-like tables plus ``events`` in the
  layout graft's ``Tables`` loaders read (``<dir>/<name>.parquet``).
* ``write_backlog`` writes an augmented-diff backlog
  (``<dir>/<seq>.json``, one GeoJSON feature-collection map per line)
  whose per-sequence sizes are lognormal, with a seeded share of
  malformed lines. It returns the generator's own truth: per-changeset
  stats, the dead-letter count, and per-tile densities for the edit and
  faceted tile updaters.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                       "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUS = np.array(["O", "F"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = np.array(
    "a the key agg row scan slow fast table value part hash line sort "
    "window merge batch spark order data column join small customer "
    "query stream group filter big vector".split())

US_PER_DAY = 86_400_000_000
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros
EPOCH_1995 = 788_918_400_000_000    # 1995-01-01T00:00:00Z in micros


def _write(table, path):
    # fixed writer settings: byte-identical output for identical input
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _events(rng, n, users):
    ts = np.sort(rng.integers(EPOCH_2024, EPOCH_2024 + 30 * US_PER_DAY, n))
    value = np.round(rng.exponential(50.0, n), 2)
    user_id = rng.integers(0, users, n, dtype=np.int64)
    event_type = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(event_type, pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(['{"k": %d}' % x for x in k], pa.string()),
    })


def write_tables(out_dir, seed, sf):
    """TPC-H-like tables at scale factor ``sf`` (events: 1e6*sf rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)

    _write(_events(rng, n_ev, max(int(15_000 * sf), 10)),
           f"{out_dir}/events.parquet")

    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
    }), f"{out_dir}/customer.parquet")

    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)]),
    }), f"{out_dir}/orders.parquet")

    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(RETURNFLAGS[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(LINESTATUS[rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * US_PER_DAY),
    }), f"{out_dir}/lineitem.parquet")

    lens = rng.integers(10, 100, n_docs)
    words = WORDS[rng.integers(0, len(WORDS), int(lens.sum()))]
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(words[at:at + n]))
        at += n
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")
    return {"events": n_ev, "lineitem": n_line, "orders": n_ord,
            "customer": n_cust, "documents": n_docs}


# -------------------------------------------------------- augdiff backlog

TAG_SETS = [
    {"building": "yes"},
    {"highway": "residential"},
    {"waterway": "stream"},
    {"amenity": "cafe"},
    {"natural": "coastline"},
    {"name": "plain"},
    {},
]
TAG_FACET = ["building", "road", "waterway", "poi", "coastline", None, None]


def _cell(lon, lat, zoom, cells):
    n = (1 << zoom) * cells
    gx = min(max(float(np.floor((lon + 180.0) / 360.0 * n)), 0.0), n - 1.0)
    gy = min(max(float(np.floor((90.0 - lat) / 180.0 * n)), 0.0), n - 1.0)
    gx, gy = int(gx), int(gy)
    return gx // cells, gy // cells


def write_backlog(out_dir, seed, sequences, mean_rows, bad_share,
                  changesets=400, zoom=3, cells=8):
    """Write ``sequences`` augmented-diff payloads and return the truth."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    sizes = np.maximum(5, rng.lognormal(np.log(mean_rows) - 0.5, 1.0,
                                        sequences)).astype(int)
    cs_uid = rng.integers(1, 5000, changesets)
    stats = {}
    edit_tiles, facet_tiles = {}, {}
    dead = 0
    elem = 0
    for seq in range(sequences):
        lines = []
        for _ in range(int(sizes[seq])):
            if rng.random() < bad_share:
                lines.append('{"new": {"type": "Feature", "properties": {')
                dead += 1
                continue
            elem += 1
            cs = int(rng.integers(0, changesets))
            is_way = rng.random() < 0.2
            visible = rng.random() >= 0.1
            version = int(rng.integers(1, 4))
            t_new = int(rng.integers(0, len(TAG_SETS)))
            t_old = int(rng.integers(0, len(TAG_SETS)))
            tags = TAG_SETS[t_new] if visible else {}
            props = {
                "type": "way" if is_way else "node", "id": elem,
                "version": version, "minorVersion": 0,
                "updated": "2024-01-%02dT%02d:%02d:00Z"
                           % (1 + seq % 28, seq % 24, int(rng.integers(0, 60))),
                "visible": visible, "changeset": cs, "uid": int(cs_uid[cs]),
                "user": "u%d" % cs_uid[cs], "tags": tags,
            }
            if is_way:
                geom = {"type": "LineString",
                        "coordinates": [[0.0, 0.0], [1.0, 1.0]]}
            else:
                lon = float("%.6f" % rng.uniform(-180.0, 180.0))
                lat = float("%.6f" % rng.uniform(-85.0, 85.0))
                geom = {"type": "Point", "coordinates": [lon, lat]}
            feat = {"new": {"type": "Feature", "properties": props,
                            "geometry": geom}}
            if version > 1 or not visible:
                feat["old"] = {"type": "Feature",
                               "properties": {"tags": TAG_SETS[t_old]}}
            lines.append(json.dumps(feat, sort_keys=True))

            s = stats.setdefault(cs, {"uid": int(cs_uid[cs]), "total": 0,
                                      "nodes": 0, "ways": 0, "deletes": 0,
                                      "sequences": set()})
            s["total"] += 1
            s["ways" if is_way else "nodes"] += 1
            s["deletes"] += 0 if visible else 1
            s["sequences"].add(seq)
            if not is_way:
                tile = _cell(lon, lat, zoom, cells)
                edit_tiles[tile] = edit_tiles.get(tile, 0) + 1
                facet = TAG_FACET[t_new] if visible else TAG_FACET[t_old]
                names = [facet] if facet else []
                names.append("deleted" if not visible else
                             "created" if version == 1 else "modified")
                for f in names:
                    key = (tile, "facet_" + f)
                    facet_tiles[key] = facet_tiles.get(key, 0) + 1
        with open(f"{out_dir}/{seq}.json", "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return {
        "sequences": sequences,
        "rows": int(sizes.sum()),
        "dead": dead,
        "changesets": changesets,
        "stats": {str(cs): dict(v, sequences=sorted(v["sequences"]))
                  for cs, v in sorted(stats.items())},
        "edit_tiles": {"%d/%d/%d" % (zoom, x, y): n
                       for (x, y), n in sorted(edit_tiles.items())},
        "facet_tiles": {"%d/%d/%d|%s" % (zoom, x, y, f): n
                        for ((x, y), f), n in sorted(facet_tiles.items())},
    }
