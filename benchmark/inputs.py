"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical tables, a different seed a different graph. The
program under test only ever sees the written parquet tables.

Two inputs:

- a source-code corpus ``(repo, path, commit, lang, content)`` in the
  schema ``sources.corpus.extract_import_edges`` reads. Repo ids are dense
  ``[0, n)`` (the engine's dense-id fast path needs that) and the seed
  decides which repo each file imports. The import structure is a
  dependency graph: most imports point at lower ids with a strong skew
  toward the lowest ("core") ids, so a few core libraries are hubs; repos
  outside the core also import uniformly random repos, which makes
  cycles. Core repos never take those cycle edges, so the hubs drain rank
  mass instead of trapping it, and PageRank converges in a similar number
  of supersteps on every seed.
- a sparse-id edge table ``(src long, dst long)`` with planted
  communities, small satellite components and one mega-hub that a share
  of all vertices link to.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("py", "java", "go", "rs")
IMPORT_SYNTAX = {
    "py": "import lib_mod_{}",
    "java": "import lib_mod_{}.core;",
    "go": 'import "lib_mod_{}"',
    "rs": "use lib_mod_{}::prelude;",
}
# share of ids that form the acyclic core and share of imports (outside
# the core) that go to a uniformly random repo
CORE_FRAC = 0.05
CYCLE_FRAC = 0.1


def _rng(seed: int, stream: str) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, salt])


@dataclass
class Corpus:
    n_repos: int
    file_repo: np.ndarray  # per file: owning repo id
    file_idx: np.ndarray  # per file: index within its repo
    imp_file: np.ndarray  # per import line: file number
    imp_target: np.ndarray  # per import line: imported repo id

    def expected_edges(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(src, dst, weight): one edge per importing/imported repo pair,
        weight = number of distinct files of ``src`` importing ``dst``."""
        src = self.file_repo[self.imp_file]
        keep = src != self.imp_target
        n = self.n_repos
        per_file = np.unique(
            (self.imp_file[keep] * n + self.imp_target[keep])
        )
        f = per_file // n
        key = self.file_repo[f] * n + per_file % n
        pairs, weight = np.unique(key, return_counts=True)
        return pairs // n, pairs % n, weight.astype(np.float64)


def make_corpus(n_repos: int, seed: int) -> Corpus:
    rng = _rng(seed, "corpus")
    files = np.minimum(rng.zipf(1.8, n_repos), 40)
    file_repo = np.repeat(np.arange(n_repos, dtype=np.int64), files)
    starts = np.cumsum(files) - files
    file_idx = np.arange(len(file_repo)) - np.repeat(starts, files)
    per_file = rng.integers(0, 4, len(file_repo))
    imp_file = np.repeat(np.arange(len(file_repo)), per_file)
    src = file_repo[imp_file]
    m = len(src)
    core = int(n_repos * CORE_FRAC)
    down = (src * rng.random(m) ** 3).astype(np.int64)
    anywhere = rng.integers(core, n_repos, m)
    cycle = (rng.random(m) < CYCLE_FRAC) & (src >= core)
    target = np.where(cycle, anywhere, down)
    return Corpus(n_repos, file_repo, file_idx, imp_file, target)


def write_corpus(corpus: Corpus, seed: int, path: str) -> int:
    """Write the corpus table; returns its row count."""
    n_files = len(corpus.file_repo)
    repos = corpus.file_repo.tolist()
    idx = corpus.file_idx.tolist()
    langs = [LANGS[r % len(LANGS)] for r in repos]
    names = [f"org{r % 97}/repo_{r}" for r in repos]
    fmt = [IMPORT_SYNTAX[LANGS[r % len(LANGS)]] for r in repos]
    owner = corpus.imp_file.tolist()
    imports = [fmt[f].format(t) for f, t in zip(owner, corpus.imp_target.tolist())]
    bounds = np.searchsorted(corpus.imp_file, np.arange(n_files + 1)).tolist()
    content = [
        "\n".join([f"// {names[f]} file {idx[f]}",
                   *imports[bounds[f]:bounds[f + 1]],
                   f"fn main_{idx[f]}() {{ return {repos[f]}; }}"])
        for f in range(n_files)
    ]
    commits = _rng(seed, "commit").bytes(20 * n_files).hex()
    table = pa.table(
        {
            "repo": names,
            "path": [f"src/f_{i}.{lg}" for i, lg in zip(idx, langs)],
            "commit": [commits[40 * f:40 * f + 40] for f in range(n_files)],
            "lang": langs,
            "content": content,
        }
    )
    _write_table(table, path)
    return n_files


@dataclass
class HubGraph:
    ids: np.ndarray  # sorted unique sparse int64 vertex ids
    src: np.ndarray  # dense ids (positions in ids)
    dst: np.ndarray
    hub: int  # dense position of the mega-hub


def make_hub_graph(
    n_vertices: int,
    seed: int,
    *,
    hub_share: float,
    community: int = 16,
    deg: int = 4,
) -> HubGraph:
    """Simple digraph (no self-loops, no parallel edges): communities of
    ``community`` vertices where each member links to ``deg`` random
    members (triangles, label-propagation communities), one random bridge
    per 4 vertices, 2% of the vertices in satellite components (paths and
    triangles of 3), and a mega-hub that receives an edge from a
    ``hub_share`` share of the community vertices."""
    rng = _rng(seed, "hub")
    # generator position p has the random sparse id ids[p]
    ids = np.unique(rng.integers(1, 2**62, int(n_vertices * 1.01) + 16))
    ids = rng.permutation(ids)[:n_vertices]
    n_sat = n_vertices // 50
    n_core = n_vertices - n_sat - 1
    hub = n_vertices - 1
    core = np.arange(n_core)
    sat = np.arange(n_core, hub)
    # the hub holds the smallest id, so min-label WCC floods the giant
    # component from it in the same few supersteps on every seed
    low = int(ids.argmin())
    ids[[hub, low]] = ids[[low, hub]]

    src, dst = [], []
    comm = np.arange(n_core) // community
    a = np.repeat(np.arange(n_core), deg)
    c0 = comm[a] * community
    size = np.minimum(community, n_core - c0)
    b = c0 + rng.integers(0, size)
    src.append(core[a])
    dst.append(core[b])
    # bridges between communities: ~1 per 4 vertices, uniform targets
    n_br = n_core // 4
    src.append(core[rng.integers(0, n_core, n_br)])
    dst.append(core[rng.integers(0, n_core, n_br)])
    # satellites: consecutive triples form a path a->b->c, half of them
    # closed into a triangle by a->c
    t = (len(sat) // 3) * 3
    s3 = sat[:t].reshape(-1, 3)
    tri = rng.random(len(s3)) < 0.5
    src += [s3[:, 0], s3[:, 1], s3[tri, 0]]
    dst += [s3[:, 1], s3[:, 2], s3[tri, 2]]
    # the mega-hub: an in-edge from a hub_share share of core vertices
    fans = core[rng.random(n_core) < hub_share]
    src.append(fans)
    dst.append(np.full(len(fans), hub))

    s = np.concatenate(src).astype(np.int64)
    d = np.concatenate(dst).astype(np.int64)
    keep = s != d
    key = np.unique(s[keep] * n_vertices + d[keep])
    s, d = key // n_vertices, key % n_vertices
    # a vertex exists only as an edge endpoint; dense ids follow sorted
    # original-id order (what a sorted id map assigns)
    used = np.unique(np.concatenate([s, d]))
    order = used[np.argsort(ids[used])]
    rank = np.empty(n_vertices, np.int64)
    rank[order] = np.arange(len(order))
    return HubGraph(ids[order], rank[s], rank[d], int(rank[hub]))


def write_hub_graph(g: HubGraph, path: str) -> int:
    table = pa.table(
        {"src": g.ids[g.src], "dst": g.ids[g.dst]},
        schema=pa.schema([("src", pa.int64()), ("dst", pa.int64())]),
    )
    _write_table(table, path)
    return len(g.src)


def _write_table(table: pa.Table, path: str, n_files: int = 4) -> None:
    """Write ``table`` as a directory of ``n_files`` parquet files, so a
    Spark read has one input split per core."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet")
        )
