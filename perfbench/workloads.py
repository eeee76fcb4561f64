"""Workload definitions: which operations a pass runs, and how each
operation is built, executed and checked.

An operation has two timed phases, measured from outside the program
by timing calls into its public functions:

* ``build`` -- the registry builder ``queries()[name](spark, dir)``,
  ``sources.conversations.ingest_file``, or a ``views.*`` /
  ``search.snippet_search`` builder; it covers plan build plus every
  job fired while building (schema inference, stream drains).
* ``execute`` -- ``.collect()``, or ``upsert_parquet`` for an arrival.

``check`` runs untimed after the operation and returns a problem
string, or None when the output is right.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

from check import digest

#: Term the conversation-store snippet search looks for.
SEARCH_TERM = "spark"


@dataclass
class Ctx:
    """What operations share within one run."""

    spark: Any
    data_dir: str
    queries: dict
    oracle: dict  # registry name -> digest or error string
    stream: Any = None  # gen.ExportStream
    arrivals_dir: str = ""
    store_convs: str = ""
    store_msgs: str = ""
    first: dict = field(default_factory=dict)
    arrival_path: str = ""  # the last arriving export file
    arrival_bytes: int = 0  # and its size
    arrival_rows: int = 0  # conversations plus messages in it


@dataclass
class Op:
    name: str
    build: Callable[[Ctx], Any]
    execute: Callable[[Ctx, Any], Any]
    check: Callable[[Ctx, Any, Any], str | None]
    prepare: Callable[[Ctx], None] | None = None  # untimed, before build


# -- registry queries ---------------------------------------------------------


def _registry_op(name: str) -> Op:
    def build(ctx: Ctx):
        return ctx.queries[name](ctx.spark, ctx.data_dir)

    def execute(ctx: Ctx, df):
        return df.collect()

    def check(ctx: Ctx, df, rows) -> str | None:
        got = digest(list(df.columns), [tuple(r) for r in rows])
        want = ctx.oracle.get(name)
        if want is None:  # no oracle: compare with the run's first output
            want = ctx.first.setdefault(name, got)
        if isinstance(want, str):
            return want
        return None if got == want else f"digest {got} != expected {want}"

    return Op(name, build, execute, check)


# -- conversation arrivals (write path) ---------------------------------------


def _arrival_op(platform: str) -> Op:
    def prepare(ctx: Ctx) -> None:
        path = os.path.join(ctx.arrivals_dir, f"{platform}-{ctx.stream.version + 1}.json")
        ctx.arrival_rows = sum(ctx.stream.write(path, platform))
        ctx.arrival_path = path
        ctx.arrival_bytes = os.path.getsize(path)

    def build(ctx: Ctx):
        from conversation_analysis_tools_spark.sources.conversations import ingest_file

        return ingest_file(ctx.spark, ctx.arrival_path)

    def execute(ctx: Ctx, built) -> None:
        from conversation_analysis_tools_spark.sources.conversations import upsert_parquet

        convs, msgs = built
        upsert_parquet(convs, ctx.store_convs, key="id")
        upsert_parquet(msgs, ctx.store_msgs, key="id", latest_by="order_index")

    def check(ctx: Ctx, built, _out) -> str | None:
        import pyarrow.parquet as pq

        convs = pq.read_table(ctx.store_convs, columns=["id"]).column("id").to_pylist()
        msgs = pq.read_table(ctx.store_msgs, columns=["id"]).column("id").to_pylist()
        if sorted(convs) != sorted(ctx.stream.store_convs):
            return f"conversation store holds {len(convs)} ids, expected {len(ctx.stream.store_convs)}"
        if sorted(msgs) != sorted(ctx.stream.store_msgs):
            return f"message store holds {len(msgs)} ids, expected {len(ctx.stream.store_msgs)}"
        return None

    return Op(f"arrive_{platform}", build, execute, check, prepare)


# -- reads of the just-written store ------------------------------------------


def _store(ctx: Ctx):
    r = ctx.spark.read
    return r.parquet(ctx.store_convs), r.parquet(ctx.store_msgs)


def _view_op(name: str, make: Callable, verify: Callable[[list, dict], str | None]) -> Op:
    def build(ctx: Ctx):
        return make(*_store(ctx))

    def execute(ctx: Ctx, df):
        return df.collect()

    def check(ctx: Ctx, df, rows) -> str | None:
        return verify(rows, ctx.stream.expect(SEARCH_TERM))

    return Op(name, build, execute, check)


def _summary(convs, msgs):
    from conversation_analysis_tools_spark import views

    return views.conversation_summary(convs, msgs)


def _usage(convs, msgs):
    from conversation_analysis_tools_spark import views

    return views.model_usage(convs, msgs)


def _pairs(convs, msgs):
    from conversation_analysis_tools_spark import views

    return views.message_pairs(msgs)


def _search(convs, msgs):
    from pyspark.sql import functions as F

    from conversation_analysis_tools_spark.search import snippet_search

    docs = msgs.select(
        F.col("id").alias("doc_id"),
        F.col("conversation_id").alias("source"),
        F.col("content").alias("text"),
    )
    return snippet_search(docs, SEARCH_TERM)


def _verify_summary(rows, exp) -> str | None:
    got = (
        len(rows),
        sum(r["message_count"] for r in rows),
        sum(r["human_messages"] for r in rows),
        sum(r["assistant_messages"] for r in rows),
    )
    return None if got == exp["summary"] else f"summary {got} != expected {exp['summary']}"


def _verify_usage(rows, exp) -> str | None:
    got = sorted(
        (r["platform"], r["model"], r["message_count"], r["conversation_count"]) for r in rows
    )
    return None if got == exp["usage"] else f"usage {got} != expected {exp['usage']}"


def _verify_pairs(rows, exp) -> str | None:
    return None if len(rows) == exp["pairs"] else f"{len(rows)} pairs != expected {exp['pairs']}"


def _verify_search(rows, exp) -> str | None:
    return None if len(rows) == exp["hits"] else f"{len(rows)} hits != expected {exp['hits']}"


# -- workloads ------------------------------------------------------------------

INTERACTIVE = [
    "substring_search", "snippet_highlight", "boolean_search", "date_range_filter",
    "length_stats", "time_bucketed_agg", "top_n_per_group", "event_response_time",
    "join_workhorse", "retention_cohorts", "funnel_view_click_purchase",
    "word_frequency_top5", "bm25_topk",
]
MAINTENANCE = [
    "streaming_stream_join", "streaming_rollup_maintenance",
    "stateful_user_totals", "incremental_rollup",
]


@dataclass
class Workload:
    name: str
    sf: float  # scale factor of the relational and events tables
    docs_sf: float  # scale factor of documents and embeddings
    warmup_passes: int
    min_passes: int  # timed passes, at least
    pass_s: float  # a warm pass's typical seconds on a 4-vCPU VM
    first: list[Op]  # run first in every pass, in shuffled order
    rest: list[Op]  # run after ``first``, in shuffled order

    @property
    def ops(self) -> list[Op]:
        return self.first + self.rest

    def registry_names(self) -> list[str]:
        return [o.name for o in self.ops if o.name in INTERACTIVE + MAINTENANCE]

    def timed_passes(self, seconds: float) -> int:
        """As many typical passes as fit in ``seconds``: fixed by the
        budget, not by how fast this run happens to go, so every run
        of a workload does the same work and a slow host cannot cut a
        run short of the later, warmer passes."""
        return max(self.min_passes, int(seconds // self.pass_s))


def workload(name: str) -> Workload:
    if name == "interactive_analytics":
        # the first timed pass after one warm-up runs 20-30% slower
        # than the next ones; the per-type median over three or more
        # timed passes leaves it out
        return Workload(name, 0.05, 0.01, 1, 3, 6.5, [], [_registry_op(n) for n in INTERACTIVE])
    if name == "ingest_maintain":
        return Workload(
            # its first pass after one warm-up ran 7-20% slower than the
            # second, and a pass takes 12 s: two warm-up passes, then
            # one timed pass
            name, 0.02, 0.002, 2, 1, 12.0,
            [_arrival_op("claude"), _arrival_op("chatgpt")],
            [
                _view_op("conversation_summary", _summary, _verify_summary),
                _view_op("model_usage", _usage, _verify_usage),
                _view_op("message_pairs", _pairs, _verify_pairs),
                _view_op("snippet_search", _search, _verify_search),
            ]
            + [_registry_op(n) for n in MAINTENANCE],
        )
    raise KeyError(name)


WORKLOADS = ("interactive_analytics", "ingest_maintain")
