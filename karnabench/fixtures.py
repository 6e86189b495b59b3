"""Fixture directories the workloads read. Two are committed with the
benchmark (data/sf0.001, data/sf0.01: the program's synthetic TPC-H-like
tables plus events, documents and embeddings). The third, sf0.01x10, is
made once per checkout from sf0.01: orders and lineitem are replicated
ten times with re-keyed order keys, so each copy's lines still join its
own orders, and the other tables are copied unchanged."""
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
DATA = HERE / "data"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
REPLICAS = 10
KEY_OFFSET = 1_000_000_000


def _replicate(src, dst, column):
    t = pq.read_table(src)
    parts = []
    for r in range(REPLICAS):
        i = t.schema.get_field_index(column)
        shifted = pc.add(t.column(i), pa.scalar(r * KEY_OFFSET, t.schema.field(i).type))
        parts.append(t.set_column(i, t.schema.field(i), shifted))
    pq.write_table(pa.concat_tables(parts), dst)


def prepare(work):
    """Returns {label: absolute directory} for the three fixture dirs."""
    dirs = {"sf0.001": DATA / "sf0.001", "sf0.01": DATA / "sf0.01"}
    for d in dirs.values():
        missing = [t for t in TABLES if not (d / f"{t}.parquet").is_file()]
        if missing:
            raise SystemExit(f"fixture tables missing under {d}: {missing}")
    big = Path(work) / "data" / "sf0.01x10"
    done = big / ".complete"
    if not done.is_file():
        shutil.rmtree(big, ignore_errors=True)
        big.mkdir(parents=True)
        src = dirs["sf0.01"]
        for t in TABLES:
            if t == "orders":
                _replicate(src / "orders.parquet", big / "orders.parquet", "o_orderkey")
            elif t == "lineitem":
                _replicate(src / "lineitem.parquet", big / "lineitem.parquet", "l_orderkey")
            else:
                shutil.copyfile(src / f"{t}.parquet", big / f"{t}.parquet")
        done.write_text("ok\n")
    dirs["sf0.01x10"] = big
    return {k: str(v.resolve()) for k, v in dirs.items()}
