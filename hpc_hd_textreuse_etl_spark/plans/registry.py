"""Materialization recipe registry — the engine's answer to the
reference's Dagster asset DAG (``etl_textreuse/__init__.py:7-14``).

A recipe is ``name → (deps, builder)``; builders receive the
SparkSession and the already-materialized dependency DataFrames.
:meth:`Registry.materialise` resolves the DAG topologically and snapshots
each asset as parquet with materialize-if-absent semantics (the same
contract as ``spark_utils.py:125-136``) — so interrupted pipelines resume
where they stopped, and every stage boundary truncates lineage (critical
for the iterative and many-join stages at scale).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hpc_hd_textreuse_etl_spark.catalog import (
    materialise,
    snapshot_is_valid,
    table_path,
)


@dataclass
class Recipe:
    name: str
    deps: tuple[str, ...]
    builder: Callable[..., DataFrame]  # (spark, **dep_dfs) -> DataFrame
    #: bound on the snapshot's parquet file count (catalog.materialise
    #: target_files); None defers to the materialise call's default
    target_files: int | None = None


class CycleError(ValueError):
    pass


class Registry:
    def __init__(self) -> None:
        self._recipes: dict[str, Recipe] = {}

    def add(
        self,
        name: str,
        deps: Sequence[str] = (),
        builder: Callable[..., DataFrame] | None = None,
        target_files: int | None = None,
    ):
        """Register a recipe; usable directly or as a decorator."""
        if builder is not None:
            self._recipes[name] = Recipe(name, tuple(deps), builder, target_files)
            return builder

        def deco(fn: Callable[..., DataFrame]):
            self._recipes[name] = Recipe(name, tuple(deps), fn, target_files)
            return fn

        return deco

    def order(self, targets: Sequence[str] | None = None) -> list[str]:
        """Topological order over the requested targets' closure."""
        targets = list(targets) if targets else list(self._recipes)
        out: list[str] = []
        state: dict[str, int] = {}  # 0=visiting, 1=done

        def visit(name: str, chain: tuple[str, ...]):
            if state.get(name) == 1:
                return
            if state.get(name) == 0:
                raise CycleError(f"dependency cycle: {' -> '.join(chain + (name,))}")
            if name not in self._recipes:
                raise KeyError(f"unknown recipe {name!r} (needed by {chain[-1] if chain else '<target>'})")
            state[name] = 0
            for dep in self._recipes[name].deps:
                visit(dep, chain + (name,))
            state[name] = 1
            out.append(name)

        for t in targets:
            visit(t, ())
        return out

    def materialise(
        self,
        spark: SparkSession,
        base_dir: str,
        targets: Sequence[str] | None = None,
        clear_cache_per_asset: bool = False,
        default_target_files: int | None = None,
    ) -> dict[str, DataFrame]:
        """Materialize the closure of ``targets`` under ``base_dir``.

        Existing complete snapshots (``_SUCCESS`` marker) are reused:
        builders of satisfied assets never even construct their plan. To
        rebuild an asset, materialise into a fresh ``base_dir``.

        ``default_target_files`` bounds each snapshot's parquet file
        count (small-files hygiene across a many-stage DAG — see
        catalog.materialise); a recipe's own ``target_files`` overrides
        it per asset.

        ``clear_cache_per_asset=True`` clears the session cache after
        each snapshot: builders may persist intermediates internally
        (defrag's raw mapping table, minhash signatures) that are DEAD
        once the asset is parquet-backed, and in one long session
        running a large DAG the leaked blocks squeeze storage memory
        until an iterative stage thrashes on eviction — measured in the
        round-7 composed-pipeline run as CW at 506 s vs 146 s clean.
        It ALSO releases tracked localCheckpoint blocks
        (functions/checkpoints.py): RDD-level checkpoint storage —
        dense-id input pins, delta-minhash signature pins — is invisible
        to ``clearCache()``, the blind spot the round-8 ADVICE named.
        Safe because every subsequent stage reads its deps from the
        snapshot, never from a live cached plan or checkpoint. Off by
        default only for single-asset / interactive use where the caller
        may still hold cached frames (or un-materialized checkpointed
        plans) of their own."""
        from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
            release_local_checkpoints,
        )

        done: dict[str, DataFrame] = {}
        for name in self.order(targets):
            path = table_path(base_dir, name)
            if snapshot_is_valid(spark, path):
                done[name] = spark.read.parquet(path)
                done[name].createOrReplaceTempView(name)
                continue
            recipe = self._recipes[name]
            df = recipe.builder(spark, **{d: done[d] for d in recipe.deps})
            tf = (
                recipe.target_files
                if recipe.target_files is not None
                else default_target_files
            )
            done[name] = materialise(spark, df, path, name=name, target_files=tf)
            if clear_cache_per_asset:
                # only drops builders' internal persists/checkpoints —
                # done[name] and the registered view read the snapshot
                spark.catalog.clearCache()
                release_local_checkpoints()
        return done
