"""Fan-out operators — the reference's EXPLODE (SURVEY §2.E rows 40–42).

``YielderNode`` (``nodes.py:914-940``) turns an iterable payload into one
sub-message per element; generator recursion (``channels.py:750-786``)
then runs the remaining nodes per sub-message and aggregates terminal
states back onto the parent (worst-of wins, ``msgstore.py:66-130``).

Spark translation: a JSON-array payload → ``explode`` (a first-class
relational op — distributes the fan-out across the cluster, unlike the
reference's sequential loop), and the state roll-up is a ``groupBy`` on
the parent ``id`` with ``array_position`` priority max. The split of the
JSON array into element strings crosses into python once per Arrow
batch through the nodes' one Python builder (``base.python_udf``); the
explode itself is JVM-side.
"""


from pyspark.sql import DataFrame, functions as F, types as T

from ..message import STATES_PRIORITY, SUBSTATE_TYPE, worst_state_expr
from .base import Node

__all__ = ["Yielder", "aggregate_substates"]


class Yielder(Node):
    """Explode an array payload into sub-messages sharing meta/ctx and the
    parent ``id`` (store_id semantics, ``nodes.py:914-940``). Each
    sub-message gets a fresh uuid ``<parent>_<idx>``; non-active rows
    pass through with one output row (explode must not lose them)."""

    def transform(self, df: DataFrame) -> DataFrame:
        def _split(obj):
            return obj if isinstance(obj, list) else None

        split = self.apply_python(
            df, _split, [F.col("payload")],
            {"__elems": T.ArrayType(T.StringType())},
        )
        exploded = split.select(
            "*", F.posexplode_outer(F.col("__elems")).alias("__pos", "__elem")
        )
        out = (
            exploded.withColumn(
                "payload",
                F.when(F.col("__elem").isNotNull(), F.col("__elem")).otherwise(
                    F.col("payload")
                ),
            )
            .withColumn(
                "uuid",
                F.when(
                    F.col("__elem").isNotNull(),
                    F.concat_ws("_", F.col("uuid"), F.col("__pos").cast("string")),
                ).otherwise(F.col("uuid")),
            )
            .drop("__elems", "__pos", "__elem")
        )
        return out


def aggregate_substates(df: DataFrame) -> DataFrame:
    """Roll exploded sub-message outcomes up to one row per parent ``id``.

    Mirrors ``submessages_state_history`` + worst-state finalize
    (``msgstore.py:74-130``, ``channels.py:794-832``): the parent keeps
    every sub state in ``submessage_states`` and its own ``state`` is the
    worst by STATES_PRIORITY. One shuffle on ``id`` — the same shuffle a
    groupBy-key agg costs anywhere; map-side partial aggregation applies.
    """
    # Dropped counts as success in substate bookkeeping (channels.py:800-806)
    sub_state = F.when(F.col("state") == "dropped", F.lit("processed")).otherwise(
        F.col("state")
    )
    # Deterministic sub order: the Yielder suffixes each sub uuid with its
    # explode position (`<parent>_<idx>`); recover it so first/last-sub
    # semantics survive shuffles (F.first/F.last are any-row). A
    # non-exploded row's uuid is 32 hex chars — try_cast (not cast: ANSI
    # mode throws on malformed input) yields NULL → -1.
    pos = F.coalesce(
        F.element_at(F.split(F.col("uuid"), "_"), -1).try_cast("long"), F.lit(-1)
    )
    df = df.withColumn("__sub_state", sub_state).withColumn("__pos", pos)
    entry = F.struct(
        F.col("__pos").alias("pos"),
        F.col("uuid").alias("sub_id"),
        F.col("__sub_state").alias("state"),
        F.unix_timestamp("timestamp").cast("double").alias("ts"),
    )
    # sort_array orders struct elements by leading field (pos), then strip it
    subs = F.transform(
        F.sort_array(F.collect_list(entry)),
        lambda e: F.struct(
            e["sub_id"].alias("sub_id"),
            e["state"].alias("state"),
            e["ts"].alias("ts"),
        ),
    ).alias("submessage_states")
    agg = df.groupBy("id").agg(
        F.min_by("timestamp", "__pos").alias("timestamp"),
        F.min_by("channel", "__pos").alias("channel"),
        F.min_by("content_type", "__pos").alias("content_type"),
        # last-sub-message-wins (channels.py:783-786), keyed on explode pos
        F.max_by("payload", "__pos").alias("payload"),
        F.min_by("meta", "__pos").alias("meta"),
        F.min_by("ctx", "__pos").alias("ctx"),
        subs,
        F.collect_list("__sub_state").alias("__states"),
        F.max("err_msg").alias("err_msg"),
        F.min_by("uuid", "__pos").alias("uuid"),
    )
    return agg.withColumn("state", worst_state_expr(F.col("__states"))).drop(
        "__states"
    )
