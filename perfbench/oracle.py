"""Compare the engine's warm-up results with DuckDB running each query's
oracle SQL (`graft.SparkEntry.oracleSql`) over the same generated tables.

The comparison is the engine's exact convention: columns sorted by name,
rows sorted, every cell equal (doubles bit-exact).
"""
import math
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = ["documents", "embeddings"]


def _sorted_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return [cols[i] for i in order], sorted(
        out, key=lambda r: tuple(str(x) for x in r))


def _equal(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    if type(a) is not type(b) and a is not None and b is not None:
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            pass
    return a == b


def check(data_dir: Path, dump_dir: Path, oracles: dict) -> dict:
    """Return {query: None if equal, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = data_dir / f"{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    report = {}
    for name, sql in sorted(oracles.items()):
        qdir = dump_dir / name
        if not any(qdir.glob("*.parquet")):
            report[name] = "no engine result"
            continue
        tbl = pq.read_table(qdir)
        scols, srows = _sorted_rows(
            tbl.column_names, [tuple(r.values()) for r in tbl.to_pylist()])
        try:
            res = con.execute(sql)
        except duckdb.Error as e:
            report[name] = f"oracle error: {str(e).splitlines()[0][:200]}"
            continue
        ocols, orows = _sorted_rows([d[0] for d in res.description],
                                    res.fetchall())
        if scols != ocols:
            report[name] = f"columns {scols} != oracle {ocols}"
        elif len(srows) != len(orows):
            report[name] = f"{len(srows)} rows != oracle {len(orows)}"
        else:
            bad = next(((i, c) for i, (sr, orow) in enumerate(zip(srows, orows))
                        for c, (x, y) in enumerate(zip(sr, orow))
                        if not _equal(x, y)), None)
            report[name] = None if bad is None else (
                f"row {bad[0]} column {scols[bad[1]]}: "
                f"{srows[bad[0]][bad[1]]!r} != oracle {orows[bad[0]][bad[1]]!r}")
    con.close()
    return report
