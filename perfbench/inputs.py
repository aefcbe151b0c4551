"""Seeded input generators for the benchmark.

Everything the workloads read is made here from the ``--seed`` argument, so
the same seed gives byte-identical inputs and the program under test only
ever sees generated files:

* the tribute dimension (16 rows for ``tribute_live``) and the one-row game
  config, shaped by ``schemas.TRIBUTE_DIM_SCHEMA`` /
  ``schemas.GAME_CONFIG_SCHEMA``;
* tribute event files (JSON lines, ``TRIBUTE_STREAM_SCHEMA``), each written
  to a dot-prefixed name and renamed into place so a polling file source
  never reads half a file;
* the tables the ``query_mix`` entries read (TPC-H-like ``supplier``,
  ``orders`` and ``lineitem`` plus ``embeddings``), written as parquet.

The generators also keep the last-writer-wins record per tribute, which the
output checks compare against the sink's latest view.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GAME_ID = "gameId1"
# gameData.json bounds: a 100 x 100 arena
GAME_BOUNDS = {"maxXCoordinate": 100.0, "maxYCoordinate": 100.0,
               "minXCoordinate": 0.0, "minYCoordinate": 0.0}


def tribute_dim_rows(n: int, seed: int) -> list[tuple]:
    """``n`` tribute master rows in TRIBUTE_DIM_SCHEMA column order."""
    rng = random.Random(f"dim-{seed}-{n}")
    return [
        (
            str(i),
            1 + (i - 1) % 12,
            f"tribute{i}",
            rng.randint(12, 18),
            rng.choice("MF"),
            round(rng.uniform(1.0, 4.0), 2),
            round(rng.uniform(6.0, 9.0), 2),
            round(rng.uniform(4.0, 8.0), 2),
        )
        for i in range(1, n + 1)
    ]


def game_config_rows() -> list[tuple]:
    return [(GAME_ID, GAME_BOUNDS["maxXCoordinate"], GAME_BOUNDS["maxYCoordinate"],
             GAME_BOUNDS["minXCoordinate"], GAME_BOUNDS["minYCoordinate"])]


@dataclass
class Latest:
    """The generator's own last-writer-wins record for one tribute."""

    seq: int
    heartrate: float
    x: float
    y: float


@dataclass
class EventWriter:
    """Writes tribute event files and remembers what it published.

    ``files[name]`` is the list of event ids in each published file;
    ``latest`` maps tribute id to the highest-``seq`` event published for
    it.  A file is first written under a dot-prefixed name, which the file
    source ignores, and published by an atomic rename."""

    directory: str
    n_tributes: int
    seed: int
    seq: int = 0
    files: dict[str, list[str]] = field(default_factory=dict)
    latest: dict[str, Latest] = field(default_factory=dict)

    def __post_init__(self) -> None:
        os.makedirs(self.directory, exist_ok=True)
        self._rng = random.Random(f"events-{self.seed}-{self.n_tributes}")

    def write(self, size: int) -> str:
        """Write and publish one file of ``size`` events on random tributes;
        return its final path."""
        rng = self._rng
        name = f"events_{len(self.files):05d}.json"
        tids = [str(rng.randint(1, self.n_tributes)) for _ in range(size)]
        ids, lines = [], []
        for tid in tids:
            hr = 0.0 if rng.random() < 0.05 else float(rng.randint(60, 180))
            x = round(rng.uniform(-5.0, 105.0), 2)
            y = round(rng.uniform(-5.0, 105.0), 2)
            eid = f"s{self.seed}e{self.seq}"
            lines.append(
                f'{{"streamingeventid":"{eid}","gameid":"{GAME_ID}",'
                f'"tributeid":"{tid}","heartrate":{hr!r},'
                f'"painlevel":{round(rng.uniform(0, 10), 2)!r},'
                f'"hydrationlevel":{round(rng.uniform(0, 10), 2)!r},'
                f'"hungerlevel":{round(rng.uniform(0, 10), 2)!r},'
                f'"xcoordinate":{x!r},"ycoordinate":{y!r},"seq":{self.seq}}}\n'
            )
            ids.append(eid)
            self.latest[tid] = Latest(self.seq, hr, x, y)
            self.seq += 1
        tmp = os.path.join(self.directory, "." + name + ".tmp")
        final = os.path.join(self.directory, name)
        with open(tmp, "w") as out:
            out.writelines(lines)
        os.rename(tmp, final)
        self.files[name] = ids
        return final


# ---------------------------------------------------------------------------
# query_mix tables

EMBEDDINGS_SEED = 42


def _write(table: dict, out_dir: str, name: str) -> None:
    pq.write_table(pa.table(table), os.path.join(out_dir, f"{name}.parquet"))


def write_star_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write the tables the query_mix entries read, at ``scale`` (0.01 ~ 60k
    lineitems): ``supplier``, ``orders``, ``lineitem`` and ``embeddings``.

    Column names and types follow the fixtures the registry entries were
    written against (FIXTURES.md section B); the values are drawn from
    ``seed``, except the embedding vectors (see below)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * scale))
    n_orders = max(1_500, int(1_500_000 * scale))
    n_vecs = max(200, int(20_000 * scale))

    _write({"s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
           out_dir, "supplier")

    # order and ship dates are drawn independently over 1995-2001, as in the
    # fixtures: the ship lag spans years, so lateness filters bite
    order_days = rng.integers(0, 2404, n_orders)
    odate = np.datetime64("1995-01-01T00:00:00", "us") + order_days.astype("timedelta64[D]")
    _write({"o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, max(150, int(150_000 * scale)) + 1,
                                      n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders, p=[0.49, 0.49, 0.02]),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)},
           out_dir, "orders")

    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines_per_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_number = (np.arange(n_lines) - np.repeat(starts, lines_per_order) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    ship = np.datetime64("1995-01-02T00:00:00", "us") + rng.integers(
        0, 2498, n_lines).astype("timedelta64[D]")
    _write({"l_orderkey": l_order,
            "l_partkey": rng.integers(1, max(200, int(200_000 * scale)) + 1, n_lines).astype(np.int64),
            "l_suppkey": rng.integers(1, n_supp + 1, n_lines).astype(np.int64),
            "l_linenumber": l_number,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_lines), 2),
            "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": ship},
           out_dir, "lineitem")

    # The ANN entries size their index from the vectors (cells, probes,
    # refine band), so vectors drawn per seed moved their work by up to 20 %
    # between seeds.  The vectors come from a fixed seed instead.
    vrng = np.random.default_rng(EMBEDDINGS_SEED)
    centers = vrng.normal(0.0, 1.0, (10, 64))
    labels = vrng.integers(0, 10, n_vecs)
    vecs = centers[labels] + vrng.normal(0.0, 0.6, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write({"vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32)},
           out_dir, "embeddings")
