"""Seeded inputs for the benchmark workloads, and their reference outputs.

Everything here is a pure function of the seed, computed in plain
Python without Spark: the same seed gives the same tables under any
master or partitioning (``test_perfbench.py`` loads them under
``local[1]`` and ``local[4]``), and generating them does not warm the
JVM the run then measures.  Inputs are generated once per seed and
cached under the work directory, outside the timed set-up, together
with reference outputs computed by independent single-process code
(``tests/oracle/graph_oracle.py`` and networkx).
"""

from __future__ import annotations

import importlib.util
import json
import os
import random
import shutil

# Web link graph shared by both workloads.
WEB_PAGES = 2000
WEB_LINKS_PER_PAGE = 5
# Both pagerank calls run the same rounds, so the store's write path is
# the difference between their times.
PAGERANK_ITERS = 3
SSSP_SOURCES = 20
BC_SOURCES = 4
# Co-purchase graph for the mining apps: parts bought together in orders,
# with orders drawn mostly from one brand so that cliques share an
# attribute (what the communities app looks for).
MINE_PARTS = 500
MINE_ORDERS = 2000
MINE_BRAND_SIZE = 50
MINE_IN_BRAND = 0.6
MINE_MOTIF_LABELS = 8
# The labeled 4-cycle a:0 -> b:1 -> c:2 -> d:3 -> a.
MOTIF_LABEL_CYCLE = ((0, 1), (1, 2), (2, 3), (3, 0))
MOTIF_PATTERN = "(a)->(b); (b)->(c); (c)->(d); (d)->(a)"
FOCUSCO_SEEDS = 32
INPUT_VERSION = 7

_MASK64 = (1 << 64) - 1


def load_oracle(root: str):
    """The repo's single-process graph oracle, imported read-only."""
    path = os.path.join(root, "tests", "oracle", "graph_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_graph_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _signed64(x: int) -> int:
    x &= _MASK64
    return x - (1 << 64) if x >= 1 << 63 else x


def relabel(seed: int):
    """A seeded bijection of the small part ids onto the full signed
    64-bit range (an odd multiplier is invertible mod 2**64)."""
    rng = random.Random(f"relabel:{seed}")
    mult = rng.getrandbits(64) | 1
    add = rng.getrandbits(64)
    return lambda v: _signed64(v * mult + add)


def web_edge_list(seed: int, n: int = WEB_PAGES) -> list[tuple[int, int]]:
    from gminer_spark.web.fixtures import powerlaw_edges

    return powerlaw_edges(n, WEB_LINKS_PER_PAGE, seed=seed)


def copurchase(seed: int) -> tuple[dict[tuple[int, int], int], dict[int, int]]:
    """((a, b) -> shared-order count with a < b, part -> brand)."""
    rng = random.Random(f"copurchase:{seed}")
    n_brands = MINE_PARTS // MINE_BRAND_SIZE
    brand = {p: p // MINE_BRAND_SIZE for p in range(MINE_PARTS)}
    weights: dict[tuple[int, int], int] = {}
    # every brand gets the same number of orders, so the graph's shape
    # (and the mining apps' work) varies little from seed to seed
    for order in range(MINE_ORDERS):
        b = order % n_brands
        items = set()
        for _ in range(rng.randint(2, 7)):
            if rng.random() < MINE_IN_BRAND:
                items.add(b * MINE_BRAND_SIZE + rng.randrange(MINE_BRAND_SIZE))
            else:
                items.add(rng.randrange(MINE_PARTS))
        items = sorted(items)
        for i, x in enumerate(items):
            for y in items[i + 1 :]:
                weights[(x, y)] = weights.get((x, y), 0) + 1
    return weights, brand


def motif_labels(seed: int) -> dict[int, int]:
    rng = random.Random(f"labels:{seed}")
    return {p: rng.randrange(MINE_MOTIF_LABELS) for p in range(MINE_PARTS)}


def motif_table(pairs, labels: dict[int, int]) -> list[tuple[int, int]]:
    """Directed edges u -> v of the labeled pattern's label steps."""
    steps = set(MOTIF_LABEL_CYCLE)
    out = []
    for a, b in pairs:
        if (labels[a], labels[b]) in steps:
            out.append((a, b))
        if (labels[b], labels[a]) in steps:
            out.append((b, a))
    return out


def motif_matches(directed: list[tuple[int, int]]) -> list[tuple[int, int, int, int]]:
    succ: dict[int, set[int]] = {}
    for u, v in directed:
        succ.setdefault(u, set()).add(v)
    rows = []
    for a, bs in succ.items():
        for b in bs:
            for c in succ.get(b, ()):
                for d in succ.get(c, ()):
                    if a in succ.get(d, ()):
                        rows.append((a, b, c, d))
    return sorted(rows)


def focusco_setup(weights: dict[tuple[int, int], float]) -> tuple[float, list[int]]:
    """The FocusCO rule of ``gminer_spark/contract.py``: min_weight = weight of the
    (4|V|)-th heaviest edge, seeds = the 64 highest heavy-degree
    vertices (ties on the smaller id)."""
    verts = {v for e in weights for v in e}
    ranked = sorted(weights.items(), key=lambda kv: (-kv[1], kv[0]))
    kth = ranked[min(4 * len(verts), len(ranked)) - 1][1]
    hd: dict[int, int] = {}
    for (a, b), w in weights.items():
        if w >= kth:
            hd[a] = hd.get(a, 0) + 1
            hd[b] = hd.get(b, 0) + 1
    seeds = sorted(hd, key=lambda v: (-hd[v], v))[:FOCUSCO_SEEDS]
    return float(kth), seeds


def _sample(seed: int, tag: str, population: list[int], k: int) -> list[int]:
    return sorted(random.Random(f"{tag}:{seed}").sample(population, k))


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _MASK64, 31) * _P1 & _MASK64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed long: what Spark's builtin
    ``xxhash64`` (seed 42) returns for a string column, computed without
    Spark so that generating inputs leaves the measured JVM untouched."""
    n, p = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _MASK64, (seed + _P2) & _MASK64, seed, (seed - _P1) & _MASK64]
        while p <= n - 32:
            for i in range(4):
                v[i] = _round(v[i], int.from_bytes(data[p : p + 8], "little"))
                p += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _MASK64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _MASK64
    else:
        h = (seed + _P5) & _MASK64
    h = (h + n) & _MASK64
    while p + 8 <= n:
        h ^= _round(0, int.from_bytes(data[p : p + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK64
        p += 8
    if p + 4 <= n:
        h ^= int.from_bytes(data[p : p + 4], "little") * _P1 & _MASK64
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK64
        p += 4
    while p < n:
        h ^= data[p] * _P5 & _MASK64
        h = _rotl(h, 11) * _P1 & _MASK64
        p += 1
    h ^= h >> 33
    h = h * _P2 & _MASK64
    h ^= h >> 29
    h = h * _P3 & _MASK64
    h ^= h >> 32
    return _signed64(h)


def _write(path: str, columns: dict[str, list], schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pydict(columns, schema=schema), path)


def _edge_schema(*extra):
    import pyarrow as pa

    return pa.schema([("src", pa.int64()), ("dst", pa.int64()), *extra])


def build_web(seed: int, out: str, oracle) -> None:
    import pyarrow as pa

    from gminer_spark.web.fixtures import page_rows, url_for

    el = web_edge_list(seed)
    ids = {v: xxhash64(url_for(v, "bench").encode()) for v in range(WEB_PAGES)}
    if len(set(ids.values())) != len(ids):
        raise RuntimeError(f"xxhash64 url collision at seed {seed}")
    # one page per vertex; the noise (fragments, trailing slashes,
    # duplicate and relative links, mailto and self links) is what the
    # extract/dedup layers must undo
    rows = page_rows(el, namespace="bench", seed=seed)
    cols = list(zip(*rows))
    _write(
        os.path.join(out, "pages.parquet"),
        dict(zip(("url", "warc_ts", "html", "text", "lang"), cols)),
        pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                   ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]),
    )
    n_links = sum(h.count(b"<a href=") - h.count(b'href="mailto:') for h in cols[2])
    edges = sorted({(ids[s], ids[d]) for s, d in el if ids[s] != ids[d]})
    _write(
        os.path.join(out, "edges.parquet"),
        {"src": [e[0] for e in edges], "dst": [e[1] for e in edges]},
        _edge_schema(),
    )
    verts = sorted(ids.values())
    sssp_src = _sample(seed, "sssp", verts, SSSP_SOURCES)
    bc_src = _sample(seed, "bc", verts, BC_SOURCES)
    ref = {
        "n_links": n_links,
        "edges": edges,
        "pagerank": oracle.pagerank(edges, num_iter=PAGERANK_ITERS),
        "lpa3": oracle.lpa_sync(edges, num_iter=3),
        "cc": oracle.cc(edges),
        "sssp_sources": sssp_src,
        "sssp": oracle.sssp(edges, sssp_src),
        "bc_sources": bc_src,
        "bc": oracle.betweenness_sampled(edges, bc_src),
    }
    _write_json(os.path.join(out, "reference.json"), ref)


def build_mine(seed: int, out: str, oracle) -> None:
    import networkx as nx
    import pyarrow as pa

    weights, brand = copurchase(seed)
    f = relabel(seed)
    rng = random.Random(f"orient:{seed}")
    rows = []
    for (a, b), w in sorted(weights.items()):
        s, d = (f(a), f(b)) if rng.random() < 0.5 else (f(b), f(a))
        rows.append((s, d, float(w)))
    src, dst, w = zip(*rows)
    _write(
        os.path.join(out, "wedges.parquet"),
        {"src": src, "dst": dst, "weight": w},
        _edge_schema(("weight", pa.float64())),
    )
    parts = sorted(brand)
    _write(
        os.path.join(out, "attrs.parquet"),
        {"id": [f(p) for p in parts], "attr": [f"Brand#{brand[p]}" for p in parts]},
        pa.schema([("id", pa.int64()), ("attr", pa.string())]),
    )
    labels = motif_labels(seed)
    directed = motif_table(sorted(weights), labels)
    _write(
        os.path.join(out, "motif_edges.parquet"),
        {"src": [f(u) for u, _ in directed], "dst": [f(v) for _, v in directed]},
        _edge_schema(),
    )

    g = nx.Graph(list(weights))
    min_weight, seeds = focusco_setup({(f(a), f(b)): float(w) for (a, b), w in weights.items()})
    ref = {
        "triangles": oracle.triangles(list(weights)),
        "clique_size": max(len(c) for c in nx.find_cliques(g)),
        "focusco_min_weight": min_weight,
        "focusco_seeds": seeds,
        "motif_rows": sorted(
            [f(a), f(b), f(c), f(d)] for a, b, c, d in motif_matches(directed)
        ),
    }
    _write_json(os.path.join(out, "reference.json"), ref)


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)


BUILDERS = {"web": build_web, "mine": build_mine}


def ensure_inputs(kind: str, seed: int, cache_dir: str, root: str) -> str:
    """Directory holding the cached ``kind`` inputs for ``seed``; built
    (atomically, via a temporary sibling) on first use."""
    final = os.path.join(cache_dir, f"{kind}-v{INPUT_VERSION}-seed{seed}")
    if os.path.exists(os.path.join(final, "reference.json")):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    BUILDERS[kind](seed, tmp, load_oracle(root))
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def load_reference(path: str) -> dict:
    with open(os.path.join(path, "reference.json")) as fh:
        ref = json.load(fh)
    # JSON object keys are strings; the graph references are keyed by id
    for key in ("pagerank", "lpa3", "cc", "sssp", "bc"):
        if key in ref:
            ref[key] = {int(k): v for k, v in ref[key].items()}
    return ref
