"""Output checks on a landed result (nodes, edges and tile rollup parquet).

``fingerprint`` reads the landed parquet with pyarrow, so checking a rep
submits no Spark job. It is order-independent: each row is hashed on its
own and the row hashes are summed modulo 2**64. The rollup is first
checked against the landed edges (per cell: exact edge count, length sum
within float-reordering tolerance), then fingerprinted on its exact part.
``oracle_mismatches`` compares a landed result with ``oracle.run_oracle``.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
from collections import defaultdict

import pyarrow.parquet as pq

EDGE_KEY = ("id", "from_node_id", "to_node_id", "length_m")
NODE_KEY = ("id", "lat", "lon", "type")


def _read(path: str) -> list[dict]:
    # partitioned layouts (cell_r7=<v>/) carry the partition value in the
    # directory name; pq.read_table restores it as a column either way
    if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        return []
    return pq.read_table(path).to_pylist()


def _cells(row: dict, res: tuple[int, ...]) -> tuple:
    return tuple(int(row[f"cell_r{r}"]) for r in res)


def _edge_row(row: dict, res: tuple[int, ...]) -> tuple:
    coords = tuple((c["lat"], c["lon"]) for c in row["coordinates"])
    return tuple(row[k] for k in EDGE_KEY) + (coords,) + _cells(row, res)


def _node_row(row: dict, res: tuple[int, ...]) -> tuple:
    return tuple(row[k] for k in NODE_KEY) + _cells(row, res)


def _digest(rows) -> str:
    acc, n = 0, 0
    for row in rows:
        h = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & ((1 << 64) - 1)
        n += 1
    return f"{n}:{acc:016x}"


def read_landed(out_dir: str) -> tuple[list[dict], list[dict], list[dict]]:
    return (
        _read(os.path.join(out_dir, "nodes.parquet")),
        _read(os.path.join(out_dir, "edges.parquet")),
        _read(os.path.join(out_dir, "tiles")),
    )


def rollup_errors(edges: list[dict], tiles: list[dict], res: tuple[int, ...]) -> list[str]:
    """Differences between the landed rollup and one recomputed from the
    landed edges."""
    want: dict[tuple, list] = defaultdict(list)
    for e in edges:
        for r, cell in zip(res, _cells(e, res)):
            want[(r, cell)].append(e["length_m"])
    got = {(int(t["res"]), int(t["cell"])): t for t in tiles}
    errs = [f"rollup keys differ: {len(set(want) ^ set(got))}"] if set(want) != set(got) else []
    for key in set(want) & set(got):
        t, lengths = got[key], want[key]
        if int(t["edge_count"]) != len(lengths):
            errs.append(f"rollup count {key}: {t['edge_count']} != {len(lengths)}")
        exact = math.fsum(lengths)
        if abs(t["total_length_m"] - exact) > 1e-9 * max(1.0, abs(exact)):
            errs.append(f"rollup length {key}: {t['total_length_m']} != {exact}")
    return errs


def fingerprint(out_dir: str, res: tuple[int, ...]) -> dict:
    """{"nodes", "edges", "tiles": "<rows>:<hash>", "n_edges", "errors"} of
    a result tiled at resolutions ``res``."""
    nodes, edges, tiles = read_landed(out_dir)
    return {
        "nodes": _digest(_node_row(r, res) for r in nodes),
        "edges": _digest(_edge_row(r, res) for r in edges),
        "tiles": _digest(
            (int(t["res"]), int(t["cell"]), int(t["edge_count"])) for t in tiles
        ),
        "n_edges": len(edges),
        "errors": rollup_errors(edges, tiles, res),
    }


def same_output(a: dict, b: dict) -> bool:
    return all(a[k] == b[k] for k in ("nodes", "edges", "tiles"))


def oracle_mismatches(out_dir: str, docs: list[dict], config) -> list[str]:
    """Ids whose landed node or edge differs from the single-process oracle
    (coordinates, lengths and tile cells compared exactly)."""
    from osmwaterwayextractor_spark.oracle import run_oracle, tile_assignments

    oracle = run_oracle(docs, config)
    res = config.tile_resolutions
    node_cells, edge_cells = tile_assignments(oracle.nodes, oracle.edges, config)
    nc = {c["id"]: tuple(c[f"cell_r{r}"] for r in res) for c in node_cells}
    ec = {c["id"]: tuple(c[f"cell_r{r}"] for r in res) for c in edge_cells}
    want_nodes = {n["id"]: tuple(n[k] for k in NODE_KEY) + nc[n["id"]] for n in oracle.nodes}
    want_edges = {
        e["id"]: tuple(e[k] for k in EDGE_KEY)
        + (tuple((lat, lon) for lat, lon in e["coordinates"]),)
        + ec[e["id"]]
        for e in oracle.edges
    }
    nodes, edges, _ = read_landed(out_dir)
    got_nodes = {r["id"]: _node_row(r, res) for r in nodes}
    got_edges = {r["id"]: _edge_row(r, res) for r in edges}
    bad = [f"node {k}" for k in set(want_nodes) | set(got_nodes) if want_nodes.get(k) != got_nodes.get(k)]
    bad += [f"edge {k}" for k in set(want_edges) | set(got_edges) if want_edges.get(k) != got_edges.get(k)]
    return sorted(bad)
