"""Correctness references, run outside the timed region.

- ``dml_lineitem``: the seeded DML script is replayed relationally in
  DuckDB over the generated parquet; the final table state and every
  query result must match exactly.
- ``llm_dedup``: each query's sorted value hash must equal that of its
  registry oracle run through DuckDB.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import datagen

# One statement of each DML kind per cycle keeps a run of this workload near
# 40 s on 4 cores, session start included.
MERGES, UPDATES, DELETES, SELECTS = 1, 1, 1, 2


@dataclass
class DmlScript:
    cdc: list[pa.Table]
    updates: list[str]  # "SET ... WHERE ..." bodies, valid in Spark SQL and DuckDB
    deletes: list[str]  # "WHERE ..." bodies
    select_cutoffs: list[str]
    pruned_filters: list[tuple]
    merge_rows_changed: int

    def statements(self, target: str) -> list[tuple[str, str]]:
        """``(kind, statement)`` in execution order against ``target``."""
        out = [
            (
                "merge",
                f"MERGE INTO {target} t USING (SELECT * FROM cdc_{i}) s "
                "ON t.l_rowid = s.l_rowid "
                "WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity, l_linestatus = s.l_linestatus "
                "WHEN NOT MATCHED THEN INSERT *",
            )
            for i in range(len(self.cdc))
        ]
        out += [("update", f"UPDATE {target} {body}") for body in self.updates]
        out += [("delete", f"DELETE FROM {target} {body}") for body in self.deletes]
        out += [("select", select_sql(target, cut)) for cut in self.select_cutoffs]
        return out


def select_sql(target: str, cutoff: str) -> str:
    return (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
        f"sum(l_rowid) AS r FROM {target} WHERE l_shipdate < TIMESTAMP '{cutoff}' "
        "GROUP BY l_returnflag, l_linestatus"
    )


def dml_script(rng: np.random.Generator, base: pa.Table) -> DmlScript:
    """Seeded MERGE batches (updates and inserts land in the latest
    quarter, as CDC does), UPDATE and DELETE predicates, aggregate
    cut-offs and a pruned-read window."""
    rows = base.num_rows
    per_side = rows // 200
    ship = base["l_shipdate"].to_numpy()
    recent = np.flatnonzero(ship >= ship.max() - np.timedelta64(91, "D"))
    cdc = []
    for i in range(MERGES):
        ids = np.sort(rng.choice(recent, per_side, replace=False))
        upd = base.take(pa.array(ids)).to_pandas()
        upd["l_quantity"] = upd["l_quantity"] + rng.integers(1, 6, len(upd))
        upd["l_linestatus"] = "U"
        ins = datagen.lineitem(rng, per_side).to_pandas()
        ins["l_rowid"] = np.arange(rows + i * per_side, rows + (i + 1) * per_side, dtype=np.int64)
        ins["l_shipdate"] = ship.max() - pd.to_timedelta(rng.integers(0, 91, per_side), unit="D")
        ins["l_linestatus"] = "U"
        cdc.append(pa.Table.from_pandas(pd.concat([upd, ins], ignore_index=True), schema=base.schema,
                                        preserve_index=False))
    # the seed picks which rows each predicate hits, never how many
    updates = [
        f"SET l_quantity = l_quantity + 1, l_discount = 0.0 "
        f"WHERE l_suppkey % 25 = {int(a)} AND l_shipdate >= TIMESTAMP '1992-04-01'"
        for a in rng.choice(25, UPDATES, replace=False)
    ]
    deletes = [
        f"WHERE l_partkey % 50 = {int(b)} AND l_returnflag = 'R'"
        for b in rng.choice(50, DELETES, replace=False)
    ]
    cutoffs = ["1992-05-01", "1992-10-01"][:SELECTS]
    start = dt.datetime(1992, int(rng.integers(1, 10)), 1)
    end = start.replace(month=start.month + 3)
    pruned = [("l_shipdate", ">=", f"{start:%Y-%m-%d %H:%M:%S}"), ("l_shipdate", "<", f"{end:%Y-%m-%d %H:%M:%S}")]
    return DmlScript(cdc, updates, deletes, cutoffs, pruned, sum(t.num_rows for t in cdc))


@dataclass
class DmlExpected:
    state: pa.Table
    selects: list[list[tuple]]
    pruned: tuple


def replay_dml(source: str, script: DmlScript) -> DmlExpected:
    """Apply ``script`` to ``source`` in DuckDB (MERGE as UPDATE ... FROM
    plus INSERT of the unmatched keys)."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE li AS SELECT * FROM read_parquet('{source}')")
        for i, cdc in enumerate(script.cdc):
            con.register(f"cdc_{i}", cdc)
            con.execute(
                f"UPDATE li SET l_quantity = s.l_quantity, l_linestatus = s.l_linestatus "
                f"FROM cdc_{i} s WHERE li.l_rowid = s.l_rowid"
            )
            con.execute(f"INSERT INTO li SELECT * FROM cdc_{i} WHERE l_rowid NOT IN (SELECT l_rowid FROM li)")
        for body in script.updates:
            con.execute(f"UPDATE li {body}")
        for body in script.deletes:
            con.execute(f"DELETE FROM li {body}")
        selects = [
            sorted(tuple(r) for r in con.execute(select_sql("li", cut)).fetchall())
            for cut in script.select_cutoffs
        ]
        (_, _, lo), (_, _, hi) = script.pruned_filters
        pruned = con.execute(
            "SELECT count(*), sum(l_rowid), sum(l_quantity) FROM li "
            f"WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'"
        ).fetchone()
        state = canonical(con.execute("SELECT * FROM li").arrow())
    finally:
        con.close()
    return DmlExpected(state, selects, tuple(pruned))


def canonical(table: pa.Table) -> pa.Table:
    """Rows sorted by ``l_rowid``; timestamps as naive micros, strings as
    ``string`` and every field nullable, so two engines' outputs compare
    with ``equals``."""
    table = table.sort_by("l_rowid")
    cols, names = [], []
    for f in table.schema:
        ty = f.type
        if pa.types.is_timestamp(ty):
            ty = pa.timestamp("us")
        elif pa.types.is_large_string(ty):
            ty = pa.string()
        cols.append(table[f.name].cast(ty).combine_chunks())
        names.append(f.name)
    return pa.Table.from_arrays(cols, names=names)


def table_state(df) -> pa.Table:
    return canonical(df.toArrow())


def oracle(query: str, sf_dir: str) -> pd.DataFrame:
    """Run the registry oracle of ``query`` in DuckDB over ``sf_dir``."""
    from iceberg_matrix_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for name in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(ORACLES[query]).df()
    finally:
        con.close()


def _rows(pdf: pd.DataFrame) -> list[str]:
    """Rows rendered exactly (floats by ``repr``), columns by name, sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(pdf.to_csv(index=False, header=False).splitlines())


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash of ``pdf``."""
    header = ",".join(sorted(pdf.columns))
    return hashlib.sha256("\n".join([header, *_rows(pdf)]).encode()).hexdigest()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals the oracle result ``want`` as a row
    multiset, else a one-line account of the difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    g, w = _rows(got), _rows(want)
    if g == w:
        return None
    extra, missing = set(g) - set(w), set(w) - set(g)
    return (f"value hash {frame_hash(got)[:12]} != oracle {frame_hash(want)[:12]} "
            f"({len(g)} rows vs {len(w)}; {len(extra)} not in oracle, {len(missing)} missing)")

