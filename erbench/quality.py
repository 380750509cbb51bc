"""Pure helpers: the percentile rule, pairwise F1, the planted-repost check
and the sharded, cached flagship referee."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
from collections import Counter

import pyarrow.compute as pc
import pyarrow.parquet as pq


def p50(values) -> float:
    return float(statistics.median(values))


def spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_f1(pred: dict[str, str], truth: dict[str, str]) -> tuple[float, float, float]:
    """Pairwise (F1, precision, recall) of clustering ``pred`` against
    ``truth``, both conv_id -> cluster_id over the same ids. A pair counts
    when both of its ids share a cluster."""
    if pred.keys() != truth.keys():
        raise ValueError("clusterings cover different ids")
    tp = sum(_pairs(n) for n in Counter((pred[k], truth[k]) for k in pred).values())
    n_pred = sum(_pairs(n) for n in Counter(pred.values()).values())
    n_truth = sum(_pairs(n) for n in Counter(truth.values()).values())
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_truth if n_truth else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return f1, precision, recall


def planted_reposts(doc_ids) -> list[tuple[str, str]]:
    """(original, repost) conv_id pairs that ``transcripts_from_documents``
    plants: an exact repost for doc_id % 7 == 0, else a near repost for
    doc_id % 5 == 0."""
    out = []
    for d in doc_ids:
        d = int(d)
        if d % 7 == 0:
            out.append((f"c{d:08d}", f"d{d:08d}"))
        elif d % 5 == 0:
            out.append((f"c{d:08d}", f"n{d:08d}"))
    return out


def repost_misses(clusters: dict[str, str], doc_ids) -> list[tuple[str, str]]:
    """Planted reposts that are not in their source's cluster."""
    return [(a, b) for a, b in planted_reposts(doc_ids) if clusters.get(a) is None or clusters.get(a) != clusters.get(b)]


def conversations(doc_ids, texts, words_per_turn: int = 8) -> dict[str, tuple[int, int]]:
    """conv_id -> (turns, text characters) of every conversation
    ``transcripts_from_documents`` derives: one turn per 8 words (at least
    one) for each document and for its planted repost, if any."""
    out = {}
    for d, t in zip(doc_ids, texts):
        d, size = int(d), (max(-(-len(t.split()) // words_per_turn), 1), len(t))
        out[f"c{d:08d}"] = size
        if d % 7 == 0 or d % 5 == 0:
            out[f"{'d' if d % 7 == 0 else 'n'}{d:08d}"] = size
    return out


# -- referee -------------------------------------------------------------------
def _referee_shard(shard_dir: str) -> tuple[list[tuple[str, str]], list[str]]:
    from repostcheckerbot_spark.operators import referee

    norms = [hashlib.sha1(n.encode()).hexdigest() for _c, _t, _r, n in referee._derive_docs(shard_dir)]
    return referee.flagship_clusters_offline(shard_dir), norms


def documents_key(documents_dir: str) -> str:
    """A cache key for the content of ``documents_dir/documents.parquet``."""
    with open(f"{documents_dir}/documents.parquet", "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:24]


def _referee_path(documents_dir: str, cache_dir: str) -> str:
    return f"{cache_dir}/referee_{documents_key(documents_dir)}.json"


def referee_cached(documents_dir: str, cache_dir: str) -> bool:
    """Whether the referee has already run on these documents."""
    return os.path.exists(_referee_path(documents_dir, cache_dir))


def referee_clusters(documents_dir: str, work_dir: str, cache_dir: str, procs: int = 4) -> "Referee":
    """Start ``referee.flagship_clusters_offline`` over ``documents_dir``;
    ``wait()`` on the returned ``Referee`` gives its conv_id -> cluster_id
    map. Results are cached by the documents' content.

    The referee scores every pair inside a (tool, role sequence) block and
    joins exact copies across blocks. Tool is the document's source, so the
    documents are split into one file per source, shared among ``procs``
    child processes; their union equals the unsharded result when
    no normalized text occurs in two shards, which is checked. Otherwise the
    referee runs once over the whole file."""
    return Referee(documents_dir, work_dir, cache_dir, procs)


class Referee:
    """The sharded referee run in plain child processes, each taking a
    share of the shards, so that closing it (``close()`` or leaving a
    ``with`` block) leaves none of them running."""

    def __init__(self, documents_dir: str, work_dir: str, cache_dir: str, procs: int):
        self.documents_dir, self.cache_dir = documents_dir, cache_dir
        self.cached = _referee_path(documents_dir, cache_dir)
        self.running: list[tuple[subprocess.Popen, str]] = []  # (worker, its output file)
        if os.path.exists(self.cached):
            return
        table = pq.read_table(f"{documents_dir}/documents.parquet")
        shards = []
        for i, source in enumerate(sorted(set(table.column("source").to_pylist()))):
            d = f"{work_dir}/referee_shard{i}"
            os.makedirs(d, exist_ok=True)
            pq.write_table(table.filter(pc.equal(table.column("source"), source)), f"{d}/documents.parquet")
            shards.append(d)
        for w in range(min(procs, len(shards))):
            out = f"{work_dir}/referee_worker{w}.json"
            cmd = [sys.executable, os.path.abspath(__file__), out, *shards[w::procs]]
            self.running.append((subprocess.Popen(cmd, stdout=subprocess.DEVNULL), out))

    def wait(self) -> dict[str, str]:
        if os.path.exists(self.cached):
            with open(self.cached) as f:
                return dict(json.load(f))
        results = []
        for proc, out in self.running:
            if proc.wait() != 0:
                self.close()
                raise RuntimeError(f"referee worker exited with code {proc.returncode}")
            with open(out) as f:
                results += json.load(f)
        seen: set[str] = set()
        disjoint = True
        for _clusters, norms in results:
            mine = set(norms)
            disjoint &= not (mine & seen)
            seen |= mine
        if disjoint:
            clusters = [tuple(row) for part, _n in results for row in part]
        else:
            from repostcheckerbot_spark.operators import referee

            clusters = referee.flagship_clusters_offline(self.documents_dir)
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(self.cached + ".tmp", "w") as f:
            json.dump(sorted(clusters), f)
        os.replace(self.cached + ".tmp", self.cached)
        return dict(clusters)

    def close(self) -> None:
        """Stop the workers still running and wait for each to end."""
        for proc, _out in self.running:
            proc.kill()
        for proc, _out in self.running:
            proc.wait()
        self.running.clear()

    def __enter__(self) -> "Referee":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


if __name__ == "__main__":
    # a referee worker: python3 quality.py <output json> <shard dir>...
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out_path, *shard_dirs = sys.argv[1:]
    with open(out_path, "w") as f:
        json.dump([_referee_shard(d) for d in shard_dirs], f)
