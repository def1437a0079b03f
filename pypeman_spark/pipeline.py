"""Pipeline: named, ordered stages over DataFrames.

Reference: a pypeman *channel* (``pypeman/channels.py:120-1049``) is a
linear chain of nodes with branch constructs (``fork``/``when``/``case``,
``channels.py:339-397``), per-outcome end-node chains
(``channels.py:984-1042``) and mid-chain injection
(``channels.py:551-662``).

Spark-first translation:

* A stage is a named ``DataFrame → DataFrame`` function (usually a
  :class:`~pypeman_spark.operators.base.Node`). The stage list IS the
  logical plan builder — Catalyst compiles the composed expressions, we
  never interpret per row.
* Rows never raise: outcome lives in the ``state`` column. ``run()``
  splits terminal outcomes at the end and applies the per-outcome
  handler chains (join/drop/reject/fail/final) — dead-letter topology as
  filters over one computed DataFrame.
* ``run(df, from_stage=...)`` starts at any named stage — this is
  ``inject``/``replay`` parity and the retry-store re-entry point.
* Branch constructs are single stages wrapping sub-pipelines, so they
  are addressable and testable.

Scale notes: the entire chain is lazy; one pipeline = one Catalyst plan.
``when``/``case``/``fork`` persist the tagged frame before fan-out
whenever a branch contains stages, so a K-arm branch never re-executes
the upstream plan (scan + UDF stages) K+1 times.

A run owns what it caches; a :class:`Pipeline` keeps no per-run state.
``_share`` records each frame it persists on the run being built (a
``ContextVar`` set by ``run()``, so each thread sees only its own run).
``with pipeline.run(df) as res:`` persists ``res.all``, and its exit
releases ``all`` and that run's fan-out frames, never another run's.
Fork branches are ``res.forks[name]``.

Once per message: ``run()`` builds ``all`` from one pass over the
finalized frame. Outcomes without a handler chain leave through a single
``state IN (...)`` filter, so a pipeline with no handler chains has no
``Union`` in ``all``; outcomes with one get their own arm, and the
upstream is then shared through the same ``_share``. Every Python
callable a node runs goes through one builder,
``operators.base.python_udf``, projected once and marked
nondeterministic (``Node.apply_python``); with it, each Python node
runs once per row of any one action on ``all``, and a row whose call
raises is that row's ``error`` (``wait_retry`` under ``auto_retry``),
never a failed batch. A caller that runs several actions on it
(``StreamingChannel.handle``, ``RetryStore.retry_once``) enters the
result, or each action re-runs the whole chain.
"""

from __future__ import annotations

from contextvars import ContextVar, copy_context
from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F

from .message import (
    DROPPED,
    ERROR,
    PENDING,
    PROCESSED,
    PROCESSING,
    REJECTED,
    WAIT_RETRY,
    ensure_message_columns,
)
from .operators.base import Node, active_cond

StageFn = Callable[[DataFrame], DataFrame]

__all__ = ["Pipeline", "PipelineResult"]


def _as_stage(obj: Node | StageFn) -> tuple[str, StageFn]:
    if isinstance(obj, Node):
        return obj.name, obj
    name = getattr(obj, "__name__", None) or "stage"
    return name, obj


def _pos(chain: list[tuple[str, StageFn]], name: str) -> int:
    names = [n for n, _ in chain]
    if name not in names:
        raise KeyError(f"unknown stage {name!r}; have {names}")
    return names.index(name)


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part, allowMissingColumns=True)
    return out


# (fan-out frames, fork branches by name) of the run being built
_RUN: ContextVar[tuple[list, dict] | None] = ContextVar("pipeline_run", default=None)


def _share(df: DataFrame) -> DataFrame:
    """Persist a frame about to be consumed by >1 branch, on the run
    that is building it (outside a run nothing would own the cache).

    A K-arm ``case`` (or ``when``/``fork``) is filters + union over
    the same upstream plan; without a persist, each branch — and any
    eager sink inside one — re-executes the upstream (scan + UDF
    stages) K+1 times. At 100 TB that's K redundant full scans, so
    cache once and fan out. MEMORY_AND_DISK: spills instead of
    recomputing.
    """
    run = _RUN.get()
    if df.isStreaming or run is None:
        return df
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    run[0].append(cached)
    return cached


@dataclass
class PipelineResult:
    """Outcome-partitioned result of one pipeline run.

    ``df`` — successfully processed rows (state=processed), after join
    handlers. Mirrors the channel returning the final message on success.

    ``with pipeline.run(df) as res:`` persists ``all``; the exit releases
    ``all`` and ``cached`` (LRU eviction does, for a result never entered).
    """

    df: DataFrame
    dropped: DataFrame
    rejected: DataFrame
    errors: DataFrame
    all: DataFrame  # every outcome's rows, state column set
    forks: dict[str, DataFrame]  # each fork's branch frame, by fork name
    cached: list[DataFrame]  # the frames this run's fan-outs persisted

    def counts(self) -> dict[str, int]:
        rows = self.all.groupBy("state").count().collect()
        return {r["state"]: r["count"] for r in rows}

    def __enter__(self) -> "PipelineResult":
        self.all.persist()
        return self

    def __exit__(self, *exc) -> None:
        for frame in (self.all, *self.cached):
            frame.unpersist()


class Pipeline:
    """Named chain of stages with branch constructs and outcome handlers."""

    def __init__(self, name: str = "default", channel: str | None = None):
        self.name = name
        self.channel = channel or name
        self.stages: list[tuple[str, StageFn]] = []
        # per-outcome handler chains (channels.py:984-1042)
        self.join_nodes: list[tuple[str, StageFn]] = []
        self.drop_nodes: list[tuple[str, StageFn]] = []
        self.reject_nodes: list[tuple[str, StageFn]] = []
        self.fail_nodes: list[tuple[str, StageFn]] = []
        self.final_nodes: list[tuple[str, StageFn]] = []
        self.init_nodes: list[tuple[str, StageFn]] = []

    # -- construction ----------------------------------------------------
    def add(self, *nodes: Node | StageFn) -> "Pipeline":
        for n in nodes:
            name, fn = _as_stage(n)
            # de-duplicate stage names so inject targets are unambiguous
            existing = {s for s, _ in self.stages}
            if name in existing:
                i = 2
                while f"{name}_{i}" in existing:
                    i += 1
                name = f"{name}_{i}"
            self.stages.append((name, fn))
        return self

    def add_init_nodes(self, *nodes) -> "Pipeline":
        self.init_nodes.extend(_as_stage(n) for n in nodes)
        return self

    def add_join_nodes(self, *nodes) -> "Pipeline":
        self.join_nodes.extend(_as_stage(n) for n in nodes)
        return self

    def add_drop_nodes(self, *nodes) -> "Pipeline":
        self.drop_nodes.extend(_as_stage(n) for n in nodes)
        return self

    def add_reject_nodes(self, *nodes) -> "Pipeline":
        self.reject_nodes.extend(_as_stage(n) for n in nodes)
        return self

    def add_fail_nodes(self, *nodes) -> "Pipeline":
        self.fail_nodes.extend(_as_stage(n) for n in nodes)
        return self

    def add_final_nodes(self, *nodes) -> "Pipeline":
        self.final_nodes.extend(_as_stage(n) for n in nodes)
        return self

    def when(
        self, condition: Column | bool, *nodes: Node | StageFn, name: str | None = None
    ) -> "Pipeline":
        """ConditionSubChannel (``chan.when``, ``channels.py:354-369``):
        rows matching ``condition`` run the sub-chain and END there
        (their result is a terminal success); other rows continue."""
        sub = Pipeline(name or f"{self.name}.when{len(self.stages)}", self.channel)
        sub.add(*nodes)
        cond = F.lit(condition) if isinstance(condition, bool) else condition

        def _when_stage(df: DataFrame, _sub=sub, _cond=cond) -> DataFrame:
            act = active_cond()
            # NULL-normalize: a condition evaluating to SQL NULL (e.g.
            # get_json_object on a missing key) must route the row to
            # `rest`, not silently drop it from BOTH branches — filter(c)
            # and filter(~c) each exclude NULL.
            c = F.coalesce((act & _cond).cast("boolean"), F.lit(False))
            src = df.withColumn("__take", c)
            if _sub.stages:
                src = _share(src)
            taken = src.filter(F.col("__take")).drop("__take")
            rest = src.filter(~F.col("__take")).drop("__take")
            branch_out = _sub._apply_stages(taken, _sub.stages)
            # branch rows are terminal-success: mark processed
            branch_out = branch_out.withColumn(
                "state",
                F.when(active_cond(), F.lit(PROCESSED)).otherwise(F.col("state")),
            )
            return rest.unionByName(branch_out, allowMissingColumns=True)

        self.stages.append((sub.name, _when_stage))
        return self

    def case(
        self,
        *arms: tuple[Column | bool, Sequence[Node | StageFn]],
        name: str | None = None,
    ) -> "Pipeline":
        """``chan.case`` (``channels.py:371-397``): first true condition
        routes the row through that sub-chain, then the row CONTINUES in
        the main chain; no match = fall through unchanged."""
        subs = []
        for i, (cond, nodes) in enumerate(arms):
            sub = Pipeline(f"{name or 'case'}{len(self.stages)}.arm{i}", self.channel)
            sub.add(*nodes)
            c = F.lit(cond) if isinstance(cond, bool) else cond
            subs.append((c, sub))

        def _case_stage(df: DataFrame, _subs=subs) -> DataFrame:
            act = active_cond()
            # first-match-wins arm tag; a NULL condition skips its
            # F.when clause, so NULL ≡ no-match (arm -1, row continues)
            arm_col = F.lit(-1)
            for i in reversed(range(len(_subs))):
                arm_col = F.when(_subs[i][0], F.lit(i)).otherwise(arm_col)
            tagged = df.withColumn("__arm", F.when(act, arm_col).otherwise(F.lit(-1)))
            if any(s.stages for _c, s in _subs):
                tagged = _share(tagged)
            parts = [tagged.filter(F.col("__arm") == -1).drop("__arm")]
            for i, (_c, sub) in enumerate(_subs):
                part = tagged.filter(F.col("__arm") == i).drop("__arm")
                parts.append(sub._apply_stages(part, sub.stages))
            return _union(parts)

        self.stages.append((name or f"case{len(self.stages)}", _case_stage))
        return self

    def fork(
        self, *nodes: Node | StageFn, name: str | None = None
    ) -> "Pipeline":
        """SubChannel (``chan.fork``, ``channels.py:339-352``): a copy of
        the rows runs a parallel chain (typically ending in a sink); the
        main chain continues with the original rows."""
        sub = Pipeline(name or f"{self.name}.fork{len(self.stages)}", self.channel)
        sub.add(*nodes)

        def _fork_stage(df: DataFrame, _sub=sub) -> DataFrame:
            # Branch shares df's plan; run sub-chain eagerly so its sinks
            # fire (fire-and-forget semantics; wait_subchans ≙ this being
            # synchronous in batch mode). Persist first: the branch's
            # sinks are separate actions, so without a cache the main
            # chain re-executes the whole upstream. The branch frame is
            # the run's ``res.forks[name]``.
            src = _share(df) if _sub.stages else df
            branch = _sub._apply_stages(src, _sub.stages)
            run = _RUN.get()
            if run is not None:
                run[1][_sub.name] = branch
            return src

        self.stages.append((sub.name, _fork_stage))
        return self

    # -- execution -------------------------------------------------------
    def stage_names(self) -> list[str]:
        return [s for s, _ in self.stages]

    def _apply_stages(
        self, df: DataFrame, stages: list[tuple[str, StageFn]]
    ) -> DataFrame:
        out = df
        for _name, fn in stages:
            out = fn(out)
        return out

    def _run_handlers(
        self, part: DataFrame, handlers: list[tuple[str, StageFn]]
    ) -> DataFrame:
        """Run an outcome-handler chain (join/drop/reject/fail/final,
        ``channels.py:410-533``) on a terminal slice: rows are
        re-activated for the handlers, then their outcome state is
        restored (handlers that themselves flip state — e.g. an erroring
        node — win)."""
        if not handlers:
            return part
        tmp = part.withColumn("__outcome", F.col("state")).withColumn(
            "state", F.lit(PROCESSING)
        )
        out = self._apply_stages(tmp, handlers)
        return out.withColumn(
            "state",
            F.when(F.col("state") == PROCESSING, F.col("__outcome")).otherwise(
                F.col("state")
            ),
        ).drop("__outcome")

    def run(
        self,
        df: DataFrame,
        from_stage: str | None = None,
        to_stage: str | None = None,
        skip_init: bool = False,
        init_from: str | None = None,
    ) -> PipelineResult:
        """Run the chain on a (message) DataFrame.

        ``from_stage`` — inject/replay parity (``channels.py:551-662``):
        start at the named stage, skipping earlier ones. ``skip_init``
        is the reference's ``"_initial"`` entry point (bypass init
        nodes); ``init_from`` enters the init chain at a named node.
        """
        df = ensure_message_columns(df, channel=self.channel)
        stages = self.stages
        if from_stage is not None:
            stages = stages[_pos(stages, from_stage):]
        if to_stage is not None:
            stages = stages[: _pos(stages, to_stage) + 1]
        init_nodes = [] if skip_init else self.init_nodes
        if init_from is not None:
            init_nodes = self.init_nodes[_pos(self.init_nodes, init_from):]
        # a context of its own: the run's _RUN never leaks to the caller
        return copy_context().run(self._build, df, init_nodes, stages)

    def _build(self, df: DataFrame, init_nodes: list, stages: list) -> PipelineResult:
        cached, forks = [], {}
        _RUN.set((cached, forks))
        out = self._apply_stages(
            self._apply_stages(
                df.withColumn(
                    "state",
                    F.when(active_cond(), F.lit(PROCESSING)).otherwise(F.col("state")),
                ),
                init_nodes,
            ),
            stages,
        )
        # finalize: still-active rows are processed (channels.py:508-514)
        out = out.withColumn(
            "state",
            F.when(active_cond(), F.lit(PROCESSED)).otherwise(F.col("state")),
        )

        # one pass over `out`: an outcome gets its own union arm only when
        # it has a handler chain; every other row leaves through a single
        # `state IN (...)` filter (rows in any other state are not in
        # `all`). With no handler chains `all` is one filter, no Union.
        chains = {
            PROCESSED: self.join_nodes,
            DROPPED: self.drop_nodes,
            REJECTED: self.reject_nodes,
            ERROR: self.fail_nodes,
        }
        if self.final_nodes or any(chains.values()):
            # >1 arm reads `out`: share it so the upstream runs once
            out = _share(out)
        parts = {
            state: self._run_handlers(out.filter(F.col("state") == state), chain)
            for state, chain in chains.items()
        }
        arms = [parts[state] for state, chain in chains.items() if chain]
        plain = [state for state, chain in chains.items() if not chain]
        # auto_retry rows: parked for the retry store, no end-node chains
        # (retry.py:58-86 parks before outcome handling) — they are not
        # terminal; the retry sweep re-runs them (retry.py:130-170)
        if self.final_nodes:
            if plain:
                arms.append(out.filter(F.col("state").isin(*plain)))
            allrows = self._run_handlers(_union(arms), self.final_nodes)
            allrows = _union([allrows, out.filter(F.col("state") == WAIT_RETRY)])
        else:
            arms.append(out.filter(F.col("state").isin(*plain, WAIT_RETRY)))
            allrows = _union(arms)

        return PipelineResult(
            df=parts[PROCESSED],
            dropped=parts[DROPPED],
            rejected=parts[REJECTED],
            errors=parts[ERROR],
            all=allrows,
            forks=forks,
            cached=cached,
        )

    def inject(self, df: DataFrame, at: str | None = None):
        """Generalized re-entry (``channels.py:551-662``): ``at`` may name
        ANY node — main chain, init chain, or an outcome-handler chain.

        * ``None`` — full handle; ``"_initial"`` — bypass init nodes;
        * a main-stage name — start there (``run(from_stage=...)``);
        * an init-node name — run init from there, then the full chain;
        * a join/drop/reject/fail node name — run that handler chain
          from the named node, then the final chain (the reference calls
          final nodes after any end-chain injection); returns a
          DataFrame, not a PipelineResult, mirroring the reference's
          no-return end-chain injections;
        * a final-node name — run the final chain from there.
        """
        if at is None:
            return self.run(df)
        if at == "_initial":
            return self.run(df, skip_init=True)
        if at in [n for n, _ in self.stages]:
            return self.run(df, from_stage=at)
        if at in [n for n, _ in self.init_nodes]:
            return self.run(df, init_from=at)
        df = ensure_message_columns(df, channel=self.channel)
        for chain in (self.join_nodes, self.drop_nodes,
                      self.reject_nodes, self.fail_nodes):
            if at in [n for n, _ in chain]:
                out = self._run_handlers(df, chain[_pos(chain, at):])
                return self._run_handlers(out, self.final_nodes)
        if at in [n for n, _ in self.final_nodes]:
            return self._run_handlers(df, self.final_nodes[_pos(self.final_nodes, at):])
        raise KeyError(f"node {at!r} not found in any chain of {self.name!r}")

    # convenience: single-payload synchronous run (handle_and_wait parity,
    # channels.py:399-405)
    def handle_and_wait(self, spark, payload, meta=None):
        from .message import messages_from_payloads

        msgdf = messages_from_payloads(spark, [payload], meta=meta, channel=self.channel)
        with self.run(msgdf) as res:
            rows = res.all.collect()
        return rows[0] if rows else None
