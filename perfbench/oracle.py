"""Output checks for the verification pass.

* SparkEntry operations: the program's output against its own DuckDB twin
  (``SparkEntry.oracleSql``), with exact equality after sorting columns by
  name and rows by value; a dtype difference is a failure, as a hash of
  the values would differ.
* ``Cli.run``: rows and per-tile row counts against the region set
  computed in DuckDB from the same ``part`` table.
* ``tiff_ingest``: per-tile pixel count, min, max and sum against the
  generator's figures.

``check`` returns {operation: reason} for every operation that failed.
"""
import sys
import time

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# region sets of graft.Cli, as (lat lo, lat hi, lon lo, lon hi)
REGION_SETS = {
    "netherlands": (50, 53, 3, 7),
    "france": (42, 51, -6, 9),
    "europe": (23, 80, -25, 49),
}

GRID_PIXELS = 64  # graft.geo.Geo.gridExpand's default 8 x 8 grid


def _compare(got, exp):
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        return f"columns: got {list(g.columns)} expected {list(e.columns)}"
    if len(g) != len(e):
        return f"rows: got {len(g)} expected {len(e)}"
    g = g.sort_values(list(g.columns)).reset_index(drop=True)
    e = e.sort_values(list(e.columns)).reset_index(drop=True)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype != ev.dtype:
            if not (gv.dtype.kind == "O" and ev.dtype.kind == "O"):
                return f"{c}: dtype got {gv.dtype} expected {ev.dtype}"
        neq = ~(gv.eq(ev) | (gv.isna() & ev.isna()))
        if neq.any():
            i = neq.idxmax()
            return f"{c}: {int(neq.sum())} differences, first got={gv[i]!r} expected={ev[i]!r}"
    return None


def _cli(con, spec):
    lat_lo, lat_hi, lon_lo, lon_hi = REGION_SETS[spec["arg"]]
    exp = dict(con.sql(f"""
        WITH t AS (
          SELECT ((p_partkey * 37) % 181) - 90 AS lat0,
                 ((p_partkey * 73) % 361) - 180 AS lon0 FROM part)
        SELECT printf('ALPSMLC30_%s%03d%s%03d_DSM',
                      CASE WHEN lat0 >= 0 THEN 'N' ELSE 'S' END, abs(lat0),
                      CASE WHEN lon0 >= 0 THEN 'E' ELSE 'W' END, abs(lon0)) AS k,
               count(*) * {GRID_PIXELS} AS n
        FROM t WHERE lat0 BETWEEN {lat_lo} AND {lat_hi}
                 AND lon0 BETWEEN {lon_lo} AND {lon_hi}
        GROUP BY k""").fetchall())
    got = dict(con.sql(f"""
        SELECT tile_key, count(*) FROM read_parquet('{spec["dir"]}/*/*.parquet',
               hive_partitioning = true) GROUP BY tile_key""").fetchall())
    if got != exp:
        missing = sorted(set(exp) ^ set(got))[:3]
        return f"per-tile counts differ ({len(got)} tiles, expected {len(exp)}; e.g. {missing})"
    if spec["rows"] != sum(exp.values()):
        return f"Cli.run rows {spec['rows']} != expected {sum(exp.values())}"
    return None


def _tiff(con, spec, tile_stats):
    got = {k: (n, lo, hi, int(s)) for k, n, lo, hi, s in con.sql(f"""
        SELECT tile_key, count(*), min(elevation), max(elevation), sum(elevation)
        FROM read_parquet('{spec["dir"]}/*/*.parquet', hive_partitioning = true)
        GROUP BY tile_key""").fetchall()}
    if got != tile_stats:
        bad = sorted(k for k in set(got) | set(tile_stats) if got.get(k) != tile_stats.get(k))
        return f"per-tile stats differ on {len(bad)} tiles, e.g. {bad[:2]}"
    return None


def check(manifest, data_dir, tile_stats, tmp):
    con = duckdb.connect()
    con.sql("SET threads = 4")
    con.sql(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failed = {}
    for op, spec in manifest.items():
        t0 = time.time()
        if not spec["ok"]:
            failed[op] = "raised: " + spec["err"]
            continue
        try:
            if spec["kind"] == "entry":
                if spec["oracle"] is None:
                    failed[op] = "no oracle query"
                    continue
                got = pd.read_parquet(spec["dir"])
                why = _compare(got, con.sql(spec["oracle"]).df())
            elif spec["kind"] == "cli":
                why = _cli(con, spec)
            else:
                why = _tiff(con, spec, tile_stats)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"check error: {e}"
        if why:
            failed[op] = why
        print(f"check {op}: {time.time() - t0:.2f} s {why or 'ok'}", file=sys.stderr)
    con.close()
    return failed
