"""Map the driver's TPC-H-ish parquet tables onto the engine's graph model.

FIXTURES.md ("Driver testdata note") prescribes exactly this: FK columns
become edge tables, entity tables become node schemas, so the reference's
join/filter/projection semantics are exercised at scale on real data.

Node schemas (id = the table's primary key):
    customer, nation, region, supplier, part, orders

Edge types (source → target, built from FK projections of the same scans —
Catalyst prunes the edge scan down to the 2-3 columns used):
    IN_NATION        customer → nation
    SUPP_IN_NATION   supplier → nation
    IN_REGION        nation → region
    HAS_ORDER        customer → orders
    HAS_ITEM         orders → part     (props: l_suppkey, l_quantity,
                     l_extendedprice, l_discount, l_returnflag, l_shipdate;
                     edge id = l_orderkey*16 + l_linenumber, collision-free
                     since l_linenumber ≤ 7 in TPC-H)
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from tundradb_spark.catalog import MAX_TS
from tundradb_spark.database import Database
from tundradb_spark.session import memo
from tundradb_spark.sources import tables

#: valid-time at which the synthetic "reprice" update happens (see
#: load_versioned_orders)
REPRICE_VT = 1_000


def load_versioned_orders(spark: SparkSession, sf_dir: str) -> Database:
    """A bitemporally versioned ``orders_v`` node table built
    deterministically from the orders scan, exercising the reference's
    version-chain model (include/memory/node_arena.hpp:40-81,
    docs/README_temporal_versioning.md:78-100) at driver-data scale:

    - version 0: every order as created at vt=0; for 'F' (fulfilled) orders
      the valid interval is closed at REPRICE_VT by a later update.
    - version 1: the update — 'F' orders get o_totalprice doubled (an exact
      IEEE-754 scaling, so oracle comparison is bit-stable), valid from
      REPRICE_VT, open-ended.

    AS-OF vt < REPRICE_VT sees original prices; vt >= REPRICE_VT sees the
    repriced rows. Resolution is ``resolve_as_of``: an interval filter that
    pushes to the scan plus one per-id window pick.
    """
    return memo(
        spark,
        ("tpch.versioned_orders", sf_dir),
        lambda: _versioned_orders(spark, sf_dir),
    )


def _versioned_orders(spark: SparkSession, sf_dir: str) -> Database:
    db = Database(spark)
    orders = tables.read(spark, sf_dir, "orders")
    max_ts = F.lit(MAX_TS).cast("long")
    zero = F.lit(0).cast("long")
    is_f = F.col("o_orderstatus") == "F"
    v0 = (
        orders.withColumn("valid_from", zero)
        .withColumn(
            "valid_to",
            F.when(is_f, F.lit(REPRICE_VT).cast("long")).otherwise(max_ts),
        )
        .withColumn("tx_from", zero)
        .withColumn("tx_to", max_ts)
        .withColumn("version_id", zero)
    )
    v1 = (
        orders.filter(is_f)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("valid_from", F.lit(REPRICE_VT).cast("long"))
        .withColumn("valid_to", max_ts)
        .withColumn("tx_from", F.lit(REPRICE_VT).cast("long"))
        .withColumn("tx_to", max_ts)
        .withColumn("version_id", F.lit(1).cast("long"))
    )
    db.register_node_table(
        "orders_v",
        v0.unionByName(v1),
        "o_orderkey",
        resume_counter=False,
        pre_versioned=True,
    )
    # shared across every later query in the process: a mutation would
    # silently poison them all, so fail loudly instead (round-2 ADVICE)
    db.read_only = True
    return db


def load_graph(spark: SparkSession, sf_dir: str) -> Database:
    """The TPC-H graph over ``sf_dir``, built once per session and shared
    read-only: the queries never mutate it, and re-registering 8 node and
    5 edge tables per query dominated the round-1 bench floor."""
    return memo(spark, ("tpch.graph", sf_dir), lambda: _graph(spark, sf_dir))


def _graph(spark: SparkSession, sf_dir: str) -> Database:
    db = Database(spark)
    t = {
        name: tables.read(spark, sf_dir, name)
        for name in (
            "customer", "nation", "region", "supplier", "part", "orders",
            "lineitem", "events",
        )
    }
    for name, key in (
        ("customer", "c_custkey"),
        ("nation", "n_nationkey"),
        ("region", "r_regionkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("orders", "o_orderkey"),
    ):
        db.register_node_table(name, t[name], key, resume_counter=False)
    item_id = F.col("l_orderkey") * 16 + F.col("l_linenumber")
    db.register_node_table(
        "lineitem", t["lineitem"].withColumn("id", item_id), resume_counter=False
    )
    # events: the reference's MAP column realization (map<string,X> with
    # typed access, FIXTURES.md F6) — props JSON → map<string,long>
    db.register_node_table(
        "events",
        t["events"].withColumn(
            "props_map", F.from_json("props", "map<string,bigint>")
        ),
        "event_id",
        resume_counter=False,
    )

    created = F.lit(0).cast("long").alias("created_ts")
    for etype, name, key, source, target in (
        ("IN_NATION", "customer", "c_custkey", "c_custkey", "c_nationkey"),
        ("SUPP_IN_NATION", "supplier", "s_suppkey", "s_suppkey", "s_nationkey"),
        ("IN_REGION", "nation", "n_nationkey", "n_nationkey", "n_regionkey"),
        ("HAS_ORDER", "orders", "o_orderkey", "o_custkey", "o_orderkey"),
    ):
        db.register_edge_table(
            etype,
            t[name].select(
                F.col(key).alias("id"),
                F.col(source).alias("source_id"),
                F.col(target).alias("target_id"),
                created,
            ),
        )
    db.register_edge_table(
        "HAS_ITEM",
        t["lineitem"].select(
            item_id.alias("id"),
            F.col("l_orderkey").alias("source_id"),
            F.col("l_partkey").alias("target_id"),
            created,
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
            "l_shipdate",
        ),
    )
    db.read_only = True  # shared cached instance (see load_versioned_orders)
    return db
