"""Collections / Runs: the versioned-namespace layer over catalogs.

Mirrors the reference's collection→run→step model (semantics studied at
src/matchbox/common/dtos.py:620-655, server/postgresql/orm.py:57-205,
server/postgresql/adapter/collections.py:100-215):

- A **collection** is a named namespace holding numbered **runs**.
- A **run** is one complete pipeline state — here a whole ``Catalog`` — with
  two flags: ``is_mutable`` (new runs start mutable; writes to an immutable
  run are rejected) and ``is_default`` (at most one per collection; only an
  immutable run may become default — the reference's publish flow is
  "freeze, then point the default at it", client/dags.py:682-697).
- Deletions of non-empty containers demand ``certain=True`` and otherwise
  raise listing the children (the reference's confirmation contract).

Spark-native expression: each run owns an independent ``Catalog`` (its
parquet state lives under ``<store>/<collection>/run_<id>/``), so runs are
fully isolated — no shared mutable state, which is exactly what makes the
100-TB version safe: promoting a new run is a metadata pointer flip, never a
data rewrite, and old runs stay queryable for rollback. Queries resolve
through ``Collection.query(...)`` / ``match_key(...)``, which read the
default run unless a run id is given.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from matchbox_spark.plans.catalog import Catalog


class CollectionNotFoundError(KeyError):
    """Unknown collection name."""


class RunNotFoundError(KeyError):
    """Unknown run id within a collection."""


class RunNotWriteableError(RuntimeError):
    """Write attempted against an immutable run."""


class DeletionNotConfirmedError(RuntimeError):
    """Deletion of a non-empty container without ``certain=True``."""

    def __init__(self, children: list[str]):
        self.children = list(children)
        super().__init__(
            f"deletion requires certain=True; would remove: {self.children}"
        )


# mutations a GuardedCatalog intercepts; everything else passes through
_MUTATING = frozenset(
    {
        "insert_source_index",
        "insert_source_index_delta",
        "insert_source_index_delta_mapped",
        "insert_model_edges",
        "insert_model_edges_delta",
        "insert_block_keys_delta",
        "insert_resolver_clusters",
        "merge_resolver_clusters_delta",
        "drop_step",
        "save",
        "_commit",
        "_append",
    }
)


class GuardedCatalog:
    """Attribute proxy over a ``Catalog`` that enforces run mutability.

    Reads delegate transparently; the mutating entry points re-check the
    owning run's flag at CALL time, so freezing a run invalidates handles
    that were taken while it was mutable (the reference checks per request —
    adapter/collections.py:193-198).
    """

    def __init__(self, catalog: Catalog, run: "Run"):
        object.__setattr__(self, "_catalog", catalog)
        object.__setattr__(self, "_run", run)

    def __getattr__(self, name):
        value = getattr(self._catalog, name)
        if name in _MUTATING:
            run = self._run

            def guarded(*args, **kwargs):
                if not run.is_mutable:
                    raise RunNotWriteableError(
                        f"run {run.run_id} in collection "
                        f"{run.collection!r} is immutable"
                    )
                return value(*args, **kwargs)

            return guarded
        return value


@dataclass
class Run:
    """One versioned pipeline state inside a collection."""

    run_id: int
    collection: str
    _catalog: Catalog
    is_mutable: bool = True
    is_default: bool = False

    @property
    def catalog(self) -> GuardedCatalog:
        return GuardedCatalog(self._catalog, self)


class Collection:
    """A named namespace of runs with a single default pointer."""

    def __init__(self, spark: SparkSession, name: str, path: str | None = None):
        self.spark = spark
        self.name = name
        self.path = path
        self.runs: dict[int, Run] = {}
        self.default_run: int | None = None
        self._next_id = 1

    # -- run lifecycle -------------------------------------------------------

    def _run_path(self, run_id: int) -> str | None:
        if self.path is None:
            return None
        return os.path.join(self.path, f"run_{run_id}")

    def create_run(self) -> Run:
        """New runs are mutable and never default (adapter:126-138)."""
        run_id = self._next_id
        self._next_id += 1
        run = Run(
            run_id=run_id,
            collection=self.name,
            _catalog=Catalog(self.spark, path=self._run_path(run_id)),
        )
        self.runs[run_id] = run
        return run

    def get_run(self, run_id: int) -> Run:
        if run_id not in self.runs:
            raise RunNotFoundError(
                f"run {run_id} not in collection {self.name!r}"
            )
        return self.runs[run_id]

    def set_run_mutable(self, run_id: int, mutable: bool) -> Run:
        run = self.get_run(run_id)
        run.is_mutable = mutable
        return run

    def set_run_default(self, run_id: int, default: bool = True) -> Run:
        """Only an immutable run may become default; setting it unsets any
        previous default (adapter:151-171)."""
        run = self.get_run(run_id)
        if default:
            if run.is_mutable:
                raise ValueError("Cannot set as default a mutable run")
            for other in self.runs.values():
                other.is_default = False
            self.default_run = run_id
        elif self.default_run == run_id:
            self.default_run = None
        run.is_default = default
        return run

    def publish_run(self, run_id: int) -> Run:
        """The client's ``set_default`` flow: freeze, then move the pointer
        (reference client/dags.py:682-697)."""
        self.set_run_mutable(run_id, False)
        return self.set_run_default(run_id, True)

    def delete_run(self, run_id: int, certain: bool = False) -> None:
        run = self.get_run(run_id)
        steps = sorted(run._catalog.steps)
        if steps and not certain:
            raise DeletionNotConfirmedError(steps)
        if self.default_run == run_id:
            self.default_run = None
        del self.runs[run_id]

    @property
    def default(self) -> Run:
        if self.default_run is None:
            raise RunNotFoundError(
                f"collection {self.name!r} has no default run"
            )
        return self.runs[self.default_run]

    # -- resolution ----------------------------------------------------------

    def _resolve(self, run_id: int | None) -> Run:
        return self.default if run_id is None else self.get_run(run_id)

    def query(
        self,
        resolvers: list[str],
        sources: list[str],
        run_id: int | None = None,
        level: str = "key",
    ) -> DataFrame:
        """Default-run resolution feeding ``unified_query``: queries without
        an explicit run read the published state."""
        from matchbox_spark.plans.query import unified_query

        run = self._resolve(run_id)
        return unified_query(run._catalog, resolvers, sources, level=level)

    def match_key(
        self,
        key: str,
        source: str,
        targets: list[str],
        resolvers: list[str],
        run_id: int | None = None,
    ):
        from matchbox_spark.plans.query import match_key

        run = self._resolve(run_id)
        return match_key(run._catalog, key, source, targets, resolvers)

    # -- persistence ---------------------------------------------------------

    def save(self) -> None:
        if self.path is None:
            raise ValueError("collection has no path")
        os.makedirs(self.path, exist_ok=True)
        meta = {
            "name": self.name,
            "default_run": self.default_run,
            "next_id": self._next_id,
            "runs": {
                str(r.run_id): {
                    "is_mutable": r.is_mutable,
                    "is_default": r.is_default,
                }
                for r in self.runs.values()
            },
        }
        for run in self.runs.values():
            if run._catalog.path:
                run._catalog.save()
        with open(os.path.join(self.path, "collection.json"), "w") as f:
            json.dump(meta, f, indent=2, sort_keys=True)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Collection":
        with open(os.path.join(path, "collection.json")) as f:
            meta = json.load(f)
        coll = cls(spark, meta["name"], path=path)
        coll.default_run = meta["default_run"]
        coll._next_id = meta["next_id"]
        for rid_s, flags in meta["runs"].items():
            rid = int(rid_s)
            coll.runs[rid] = Run(
                run_id=rid,
                collection=coll.name,
                _catalog=Catalog(spark, path=coll._run_path(rid)),
                is_mutable=flags["is_mutable"],
                is_default=flags["is_default"],
            )
        return coll


class CollectionStore:
    """Root registry: named collections (the reference's server surface)."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        self.collections: dict[str, Collection] = {}
        if path and os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                cpath = os.path.join(path, name)
                if os.path.exists(os.path.join(cpath, "collection.json")):
                    self.collections[name] = Collection.load(spark, cpath)

    def create_collection(self, name: str) -> Collection:
        if name in self.collections:
            raise ValueError(f"collection {name!r} already exists")
        cpath = os.path.join(self.path, name) if self.path else None
        coll = Collection(self.spark, name, path=cpath)
        self.collections[name] = coll
        return coll

    def get_collection(self, name: str) -> Collection:
        if name not in self.collections:
            raise CollectionNotFoundError(name)
        return self.collections[name]

    def list_collections(self) -> list[str]:
        return sorted(self.collections)

    def delete_collection(self, name: str, certain: bool = False) -> None:
        coll = self.get_collection(name)
        if coll.runs and not certain:
            raise DeletionNotConfirmedError(
                [f"run_{rid}" for rid in sorted(coll.runs)]
            )
        del self.collections[name]

    def save(self) -> None:
        for coll in self.collections.values():
            coll.save()
