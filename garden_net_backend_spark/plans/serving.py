"""HTTP-result cache + memoized search serving (SURVEY §2.1 S12).

The reference memoizes each search endpoint response in a Python
``shelve`` keyed on ``search|organism|cell_type`` (backend.py:51,64-99).
That key is BUGGY: the ``nearest`` flag and ``expand`` radius change the
result but are not part of the key (SURVEY §4), so
``?search=6:52...&expand=20000`` can return the cached un-expanded
response. Here the key covers ALL FIVE result-shaping parameters.

Design: the cache is a small keyed table (params → serialized JSON
result) laid out as one atomic file per key under a cache directory —
get/put are O(1) filesystem operations that never launch a Spark job
(the serving hot path must not pay job latency for a memo hit), and the
whole cache doubles as a queryable DataFrame (``as_dataframe``) for
inspection, warm-up replay, and TTL sweeps. Matches the shelve
semantics: persistent across processes, concurrent-reader safe, no
invalidation (the reference never invalidates either — entries live
until deleted; ``clear``/``evict`` are provided for ops).

A miss (``serve_search``) is resolved on the driver:
``search.search_subnetwork`` collects the seeds, the seeds' incident
edges and the edges inside their 1-hop hood, applies the edge rules
and counts the degrees in Python, and hands back the nodes and edges
joined to one broadcast literal of the hood;
``network_build.to_cytoscape_json`` collects the elements through
Arrow and sorts them on the driver. A miss runs eight or nine Spark
jobs, each labelled with its step's job description (``search/seeds``,
``search/adjacency``, ``search/hood_edges``, ``search/serialize``);
the caller's job group is left alone.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession


def cache_key(
    search: str = "",
    organism: str = "",
    cell_type: str = "",
    nearest: bool = False,
    expand: int = 0,
) -> str:
    """Canonical cache key over ALL result-shaping request params —
    including ``nearest`` and ``expand``, which the reference's
    ``search|organism|cell_type`` key omits (backend.py:68; the
    cache-key bug SURVEY §4 calls out)."""
    return "|".join(
        [
            search or "",
            organism or "",
            cell_type or "",
            "nearest" if nearest else "",
            str(int(expand or 0)),
        ]
    )


class ResultCache:
    """params → JSON result memo; one atomic file per key."""

    def __init__(self, cache_dir: str) -> None:
        self.dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def _path(self, key: str) -> str:
        h = hashlib.sha256(key.encode("utf-8")).hexdigest()[:32]
        return os.path.join(self.dir, f"{h}.json")

    def get(self, key: str) -> str | None:
        try:
            with open(self._path(key)) as fh:
                entry = json.load(fh)
        except (OSError, ValueError):
            return None
        # hash-collision guard: verify the stored key
        return entry["result"] if entry.get("key") == key else None

    def put(self, key: str, result: str) -> None:
        path = self._path(key)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"key": key, "result": result}, fh)
        os.replace(tmp, path)  # atomic: concurrent readers see old or new

    def evict(self, key: str) -> None:
        try:
            os.remove(self._path(key))
        except OSError:
            pass

    def clear(self) -> None:
        for f in os.listdir(self.dir):
            if f.endswith(".json"):
                try:
                    os.remove(os.path.join(self.dir, f))
                except OSError:
                    pass

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        """The cache as a (key, result) table for inspection/warm-up."""
        return (
            spark.read.schema("key string, result string")
            .json(os.path.join(self.dir, "*.json"))
        )


def serve_search(
    cache: ResultCache,
    nodes: DataFrame,
    edges: DataFrame,
    search: str,
    organism: str = "",
    cell_type: str = "",
    nearest: bool = False,
    expand: int = 0,
    ensembl2name: DataFrame | None = None,
    token_index: DataFrame | None = None,
    pinned_sym: DataFrame | None = None,
    pin_policy: str = "auto",
) -> tuple[str, bool]:
    """One HTTP search request, memoized: (cytoscape JSON, was_hit).

    Miss path = search_subnetwork (token-index probe; pass
    ``pinned_sym`` from plans.search.pin_serving_adjacency to read the
    seed adjacency from the cached symmetrized edges) → cytoscape
    serialization → cache put.
    The "{}" empty-result sentinel is cached too, exactly as the
    reference caches its 3-byte output before the 404 check
    (backend.py:94-103)."""
    from ..session import job_description
    from .network_build import to_cytoscape_json
    from .search import search_subnetwork

    key = cache_key(search, organism, cell_type, nearest, expand)
    hit = cache.get(key)
    if hit is not None:
        return hit, True
    sub_nodes, sub_edges = search_subnetwork(
        nodes,
        edges,
        search,
        ensembl2name=ensembl2name,
        expand=expand,
        nearest=nearest,
        token_index=token_index,
        pinned_sym=pinned_sym,
        pin_policy=pin_policy,
    )
    with job_description(nodes.sparkSession, "search/serialize"):
        result = to_cytoscape_json(sub_nodes, sub_edges)
    cache.put(key, result)
    return result, False
