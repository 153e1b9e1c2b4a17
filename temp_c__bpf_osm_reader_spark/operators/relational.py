"""Relational query layer — SURVEY §2.3 (the SQL capabilities the reference
drives through SQLite) plus the §2.4 capability-gap operators, expressed as
DataFrame plans over the driver's TPC-H-ish tables and the image fixtures.

Every function takes (spark, sf_dir) and returns a DataFrame whose column
names/types match its DuckDB oracle twin in api.py. Aggregated doubles are
rounded explicitly (both engines round half-away-from-zero on doubles) so
value-hashes compare exactly; raw stored doubles pass through untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import read_parquet
from ..sources import fixtures, fixtures_text


def _eav(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fixtures.read_fixture(spark, sf_dir, fixtures_text.ensure_eav_all)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _cents(col) -> F.Column:
    """Exact integer cents — float aggregates sum these so the result is
    independent of summation order (oracle-exact; see api.py conventions)."""
    return F.round(col * 100).cast("bigint")


# ------------------------------------------------------- D11: typed-member dispatch

def typed_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-form members (collection_id, order_, member_type, member_ref, role)
    → the rel_mem-shaped sparse table (pbf2sqlite.c:811-857 dispatch;
    FIXTURES.md §4): exactly one of image_id/polygon_id/sub_collection_id
    non-null per row, image refs resolved to their string ids."""
    mem = fixtures.read_fixture(spark, sf_dir, fixtures.ensure_collections)
    t = F.col("member_type")
    return mem.select(
        "collection_id",
        F.col("order_").cast("int").alias("order_"),
        F.when(t == 0, F.format_string("img_%07d", F.col("member_ref"))).alias("image_id"),
        F.when(t == 1, F.col("member_ref")).alias("polygon_id"),
        F.when(t == 2, F.col("member_ref")).alias("sub_collection_id"),
        "role",
    )


# ---------------------------------------------------------------- Q4/Q1: hash agg

def q1_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped agg w/ partial+final hash agg (SURVEY Q4)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_cents(F.col("l_quantity"))) / 100.0, 2).alias("sum_qty"),
            F.round(F.sum(_cents(F.col("l_extendedprice"))) / 100.0, 2).alias("sum_base_price"),
            F.round(
                F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
                / 10000.0,
                2,
            ).alias("sum_disc_price"),
            F.round(F.sum(_cents(F.col("l_quantity"))) / 100.0 / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------- Q2: semi-join

def semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders of customers in ASIA — left-semi chain (addr.sql IN-subquery shape,
    post_process/addr.sql:31-39)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey")
    asia_custs = cust.join(F.broadcast(asia_nations), cust.c_nationkey == asia_nations.n_nationkey, "left_semi")
    return (
        orders.join(asia_custs.select("c_custkey"), orders.o_custkey == asia_custs.c_custkey, "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders — NOT EXISTS (§2.4 set-op gap)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------- Q3: EAV pivot

def caption_kv(images: DataFrame) -> DataFrame:
    """Parse the fixed caption grammar into an EAV table (image_id, k, v) —
    the analogue of `tag(nod_id, k, v)` (pbf2sqlite.c:460-468)."""
    toks = F.split(F.col("caption"), " ")
    wide = images.select(
        "image_id",
        F.element_at(toks, 5).alias("place"),
        F.expr("substring(element_at(split(caption, ' '), 6), 7)").alias("style"),
        F.expr("substring(element_at(split(caption, ' '), 7), 3)").alias("q"),
        F.element_at(toks, 3).alias("noun"),
    )
    return wide.selectExpr(
        "image_id",
        "stack(4, 'place', place, 'style', style, 'q', q, 'noun', noun) as (k, v)",
    )


def tag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAV → wide via max(CASE) pivot — post_process/addr.sql:19-42 shape."""
    images = fixtures.read_fixture(spark, sf_dir, fixtures.ensure_images)
    eav = caption_kv(images)
    return (
        eav.groupBy("image_id")
        .agg(
            F.max(F.when(F.col("k") == "place", F.col("v"))).alias("place"),
            F.max(F.when(F.col("k") == "style", F.col("v"))).alias("style"),
            F.max(F.when(F.col("k") == "q", F.col("v"))).alias("q"),
            F.max(F.when(F.col("k") == "noun", F.col("v"))).alias("noun"),
        )
    )


def caption_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Images that have tag q >= 8 — semi-join against the EAV (addr.sql Q2)."""
    images = fixtures.read_fixture(spark, sf_dir, fixtures.ensure_images)
    eav = caption_kv(images)
    keys = eav.filter((F.col("k") == "q") & (F.col("v").cast("int") >= 8)).select("image_id")
    return images.join(keys, "image_id", "left_semi").select("image_id", "caption")


# ---------------------------------------------------------------- Q1: null scan

def null_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality scan over the corrupt EAV fixture —
    queries-null-values-in-tag.sql:1-8."""
    meta = fixtures.read_fixture(spark, sf_dir, fixtures_text.ensure_meta_corrupt)
    return meta.filter(F.col("k").isNull() | F.col("v").isNull()).select(
        "image_id", "k", "v"
    )


# ---------------------------------------------------------------- Q5: union

def multi_branch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 filtered branches → one table (addr.sql 3× INSERT...SELECT shape)."""
    orders = _t(spark, sf_dir, "orders")
    b1 = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.lit("urgent").alias("branch"), "o_orderkey", "o_totalprice"
    )
    b2 = orders.filter(
        (F.col("o_orderpriority") == "2-HIGH") & (F.col("o_totalprice") > 100000)
    ).select(F.lit("high_big").alias("branch"), "o_orderkey", "o_totalprice")
    b3 = orders.filter(F.col("o_orderstatus") == "F").select(
        F.lit("finished").alias("branch"), "o_orderkey", "o_totalprice"
    )
    return b1.unionByName(b2).unionByName(b3)


# ---------------------------------------------------------------- Q11: ordered reassembly

def ordered_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reassemble ordered sequences per parent — nod_way.order_ semantics
    (pbf2sqlite.c:426): per order, linenumbers in order as a string."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_list(F.col("l_linenumber")))
            ).alias("seq"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------- top-k / window

TOPK_ORDERS = 3
SESSION_GAP_MINUTES = 30


def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK_ORDERS)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


def running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per user over time — window frame capability (§2.4)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum(_cents(F.col("value"))).over(w) / 100.0, 2).alias("running_value"),
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>threshold cumsum (guide 'Common OLAP patterns')."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > SESSION_GAP_MINUTES * 60), 1).otherwise(0)
    # count-style running sum (bigint both engines; duckdb sum(int) would be HUGEINT)
    return ev.withColumn("new_sess", new_sess).withColumn(
        "session_id",
        F.count(F.when(F.col("new_sess") == 1, 1)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).select("user_id", "event_id", "session_id")


# ---------------------------------------------------------------- pivot / rollup / distinct

def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAV→wide pivot on a driver table (SURVEY Q3 in oracle-checkable form)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_cents(F.col("l_quantity"))) / 100.0, 2).alias("qty"),
        )
    )


def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


# ---------------------------------------------------------------- joins

def revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg (TPC-H Q3 shape): lineitem ⋈ orders ⋈ customer."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(
                F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
                / 10000.0,
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def date_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp → ISO-8601 string (D13, pbf2sqlite.c:664-679) + date parts."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso_ts"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    )


# ---------------------------------------------------------------- streaming-equivalent window agg

def events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window agg — the batch twin of the streaming query in
    streaming/events.py (same semantics; streaming equivalence tested in pytest)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_cents(F.col("value"))) / 100.0, 2).alias("v"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "v",
        )
    )


# -------------------------------------------------- addr.sql flagship 1:1 rebuild

ADDR_PIVOT_KEYS = ("name", "place", "style", "q", "noun", "kind")


def addr_pivot_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship SQL workload (post_process/addr.sql:18-90)
    rebuilt 1:1: for EACH entity type (image/polygon/collection, the
    nod/way/rel analogue), keep entities having the gate key (k='place', the
    addr:street analogue, addr.sql:31-39), pivot six keys with max-CASE
    (addr.sql:22-28), and union the three branches into one sparse-id wide
    table (the three INSERTs, addr.sql:18/44/70).

    Plan shape at scale: per branch one shuffle on the entity id (semi-join
    gate broadcasts the small key set; pivot is a hash agg over the same
    key) — the union is free (no barrier)."""
    eav = _eav(spark, sf_dir)
    id_cols = ("image_id", "polygon_id", "collection_id")
    branches = []
    for ent in id_cols:
        mine = eav.filter(F.col(ent).isNotNull())
        gated = mine.join(
            F.broadcast(
                mine.filter(F.col("k") == "place").select(ent).distinct()
            ),
            ent,
            "left_semi",
        )
        wide = gated.groupBy(ent).agg(
            *[
                F.max(F.when(F.col("k") == key, F.col("v"))).alias(key)
                for key in ADDR_PIVOT_KEYS
            ]
        )
        branches.append(
            wide.select(
                *[
                    F.col(ent).alias(c) if c == ent else F.lit(None).cast(
                        "string" if c == "image_id" else "bigint"
                    ).alias(c)
                    for c in id_cols
                ],
                *ADDR_PIVOT_KEYS,
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


# -------------------------------------------- JSON props + cube (§2.4 class rows)

def props_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events.props JSON payload ('{"k": N}') and aggregate it per
    event type — the JSON-function class (§2.4: from_json/get_json_object;
    the reference has no nested types at all, SURVEY §1.4)."""
    ev = _t(spark, sf_dir, "events")
    kv = ev.select(
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("kval"),
    )
    return (
        kv.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("kval").alias("sum_k"),
            F.min("kval").alias("min_k"),
            F.max("kval").alias("max_k"),
        )
        .orderBy("event_type")
    )


def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over (returnflag, linestatus) — the full grouping-sets
    lattice (rollup's sibling, §2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(_cents(F.col("l_quantity"))) / 100.0, 2).alias("qty"),
    )


# ------------------------------------------ queries/rel.sql + denotation-count

REL_OF = 1  # the pinned collection of the rel.sql twins


def rel_tag_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 twin of the reference's per-relation member→tag frequency query
    (queries/rel.sql:10-50): pin ONE collection (REL_OF, the rel.sql
    `rel_of = 12120978` analogue), join each member-type branch of its
    members to the EAV tag table on that type's id column, GROUP BY k, and
    UNION ALL the branches → (el, cnt, k). Members joined as-is (no
    distinct) — duplicate membership multiplies counts, as in the reference.
    (rel.sql's executed form unions only the nod and way branches because of
    a typo in its rel branch (`w_t.rel_id`); the capability is three-branch,
    so all three are included here.)

    Plan: the pinned collection's members are a handful of rows → broadcast;
    the EAV side never shuffles except the per-branch GROUP BY k."""
    mem = typed_members(spark, sf_dir).filter(
        F.col("collection_id") == REL_OF
    )
    eav = _eav(spark, sf_dir)
    branches = []
    for el, mcol, ecol in (
        ("img", "image_id", "image_id"),
        ("pol", "polygon_id", "polygon_id"),
        ("col", "sub_collection_id", "collection_id"),
    ):
        refs = mem.filter(F.col(mcol).isNotNull()).select(F.col(mcol).alias("_ref"))
        b = (
            eav.join(F.broadcast(refs), F.col("_ref") == F.col(ecol))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit(el).alias("el"), "cnt", "k")
        )
        branches.append(b)
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def denotation_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 twin of queries/denotation-count.sql:1-9: conditional non-null
    counts of the three sparse id columns for one key — here k='name' (the
    fixture's sparse cross-entity key, playing 'denotation').
    One filter + one all-null-group aggregate; count(col) skips NULLs in
    both engines."""
    eav = _eav(spark, sf_dir)
    return eav.filter(F.col("k") == "name").agg(
        F.count("image_id").alias("n_img"),
        F.count("polygon_id").alias("n_pol"),
        F.count("collection_id").alias("n_col"),
    )


# --------------------------- queries/ISO3166-1-countries.sql + route family

def _left_tags(out: DataFrame, eav: DataFrame, on: str, ent: str, tags) -> DataFrame:
    """The reference's join-per-key wide-row assembly: for each (alias, key)
    in `tags`, left-join the `k = key` EAV slice (rows with a non-null `ent`
    id) onto out[on] = ent and keep its `v` as column `alias`."""
    for alias, key in tags:
        t = eav.filter((F.col("k") == key) & F.col(ent).isNotNull()).select(
            F.col(ent).alias(f"_{alias}_id"), F.col("v").alias(alias)
        )
        out = out.join(t, out[on] == t[f"_{alias}_id"], "left").drop(f"_{alias}_id")
    return out


def iso3166_countries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 transcription of queries/ISO3166-1-countries.sql:1-33 — the
    reference's only FULL OUTER JOIN plus its N-way left-self-join wide-row
    assembly, in one query: node-side and rel-side `k='ISO3166-1'` tag slices
    full-outer-joined on v (countries tagged on a node, a relation, or both),
    then five left self-joins pull int_name / name / name:en off each side.
    Entity mapping as everywhere: nod_id→image_id, rel_id→collection_id.

    Plan shape at scale: each tag slice is a pushed-down (k = const) filter
    over the EAV scan; the full join shuffles both (small) slices on v; each
    name lookup is a left join on the entity id — AQE broadcasts the filtered
    slices when small, and at 10^12-row EAV scale all six joins share the
    entity-id shuffle key, so co-partitioning carries across stages."""
    eav = _eav(spark, sf_dir)
    iso = eav.filter(F.col("k") == "ISO3166-1")
    n = iso.filter(F.col("image_id").isNotNull()).select(
        F.col("v").alias("n_v"), F.col("image_id").alias("nod_id")
    )
    r = iso.filter(F.col("collection_id").isNotNull()).select(
        F.col("v").alias("r_v"), F.col("collection_id").alias("rel_id")
    )
    iso3166 = n.join(r, n.n_v == r.r_v, "full_outer").select(
        F.coalesce("n_v", "r_v").alias("v"), "rel_id", "nod_id"
    )
    out = _left_tags(
        iso3166,
        eav,
        "rel_id",
        "collection_id",
        (("nam_int", "int_name"), ("nam_r", "name"), ("nam_r_en", "name:en")),
    )
    out = _left_tags(out, eav, "nod_id", "image_id", (("nam_n", "name"), ("nam_n_en", "name:en")))
    return out.select(
        "v", "rel_id", "nod_id", "nam_r_en", "nam_n_en", "nam_int", "nam_r", "nam_n"
    )


def iso3166_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 transcription of queries/ISO3166-1-node.sql:16-47 (the live,
    uncommented SELECT) — the node-keyed variant of the countries query: the
    `k='ISO3166-1'` node slice, minus two pinned "wrong" node ids (the
    reference's NOT IN (26847709, 4070744431), mapped to two pinned
    image_ids), left-joined per key for the selected columns. The reference
    also left-joins six more language-name slices it never selects
    (name:ru/fr/eo/zh/pl/ar); with one tag per (entity, key) those joins
    cannot change cardinality, so only the selected columns are assembled —
    same result set. Key mappings: name→name, wikidata→q (the fixture's
    Q-code key), name:en→name:en, name:de→int_name (second-language
    analogue), place→place.

    Plan shape at scale: all five probe sides are (k = const) pushed-down
    slices sharing image_id as the join key — one co-partitioning, and AQE
    broadcasts each slice at tag-key density."""
    eav = _eav(spark, sf_dir)
    iso = eav.filter(
        (F.col("k") == "ISO3166-1")
        & F.col("image_id").isNotNull()
        & ~F.col("image_id").isin("img_0000000", "img_0000251")
    ).select(F.col("image_id").alias("nod_id"), F.col("v").alias("v"))
    out = _left_tags(
        iso,
        eav,
        "nod_id",
        "image_id",
        (("n", "name"), ("wd", "q"), ("en_n", "name:en"), ("de_n", "int_name"), ("place", "place")),
    )
    return out.select("nod_id", "v", "n", "wd", "en_n", "de_n", "place")


def route_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 transcription of queries/route.sql:1-20 — the reference's
    join-per-key EAV wide-row assembly (the second workhorse pattern after
    the max-CASE pivot): five left self-joins of `tag` on rel_id, each pinned
    to one key, gated on type='route' AND route='hiking'. The WHERE on
    tag_route.v makes that left join effectively inner, exactly as in the
    reference.

    All five joins share rel_id as the join key — one co-partitioning, five
    probe sides; every probe side is a (k = const) filtered slice that AQE
    broadcasts at this density."""
    eav = _eav(spark, sf_dir)
    routes = eav.filter(
        (F.col("k") == "type") & (F.col("v") == "route") & F.col("collection_id").isNotNull()
    ).select(F.col("collection_id").alias("rel_id"))
    out = _left_tags(
        routes,
        eav,
        "rel_id",
        "collection_id",
        (
            ("tag_route", "route"),
            ("tag_network", "network"),
            ("tag_name", "name"),
            ("tag_osmc", "osmc:symbol"),
            ("tag_operator", "operator"),
        ),
    )
    return out.filter(F.col("tag_route") == "hiking").select(
        "rel_id", "tag_name", "tag_route", "tag_network", "tag_osmc", "tag_operator"
    )


def rel_member_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:1 transcription of queries/rel-12120978.sql:1-15 — one relation's
    node members left-joined to two pinned-key tag slices, with the
    CAST-to-integer ordering key materialized as a column (`ref_int`; the
    reference ORDER BY CAST(ref.v AS INTEGER) — emitted as a column here so
    the capability is value-checked, row order being irrelevant to the
    comparison). Mapping: rel_mem→collections members, rel_of→collection_id,
    ref→'q' (numeric-string tag), answer→'noun'."""
    mem = typed_members(spark, sf_dir).filter(
        (F.col("collection_id") == REL_OF) & F.col("image_id").isNotNull()
    ).select(F.col("image_id").alias("nod_id"))
    eav = _eav(spark, sf_dir)
    out = _left_tags(mem, eav, "nod_id", "image_id", (("ref_v", "q"), ("ans_v", "noun")))
    return out.select("nod_id", "ref_v", "ans_v", F.col("ref_v").cast("int").alias("ref_int"))


def ref_query_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's small ad-hoc `queries/` corpus, transcribed 1:1 into
    one uniform (query, c1, c2, cnt) table — a user of the reference can run
    every one of these today; this is their home here. Sources map
    tag→eav_all, nod→images (geolocated), nod_way→tile assignment cells,
    addr→the addr.sql pivot. Branches:

      most_frequent_keys    queries/most-frequent-keys.sql (count by k)
      most_frequent_values  queries/most-frequent-values.sql (top-100 by v;
                            ties pinned by (cnt desc, v) — the reference's
                            bare LIMIT is order-nondeterministic)
      frequency_values      queries/frequency-values.sql (HAVING cnt > 1000,
                            threshold scaled to the corpus)
      count_objects         queries/count-objects.sql (4 entity counts)
      v_length_1            queries/v-length=1.sql (count by (k,v))
      max_length_k/_v       queries/max-length-k-v-in-tag.sql
      length_k_gt_30        queries/length-k-gt-30.sql (as a count)
      urls                  queries/urls.sql (as a count)
      v_like_Q              queries/v-like-Q.sql (LIKE 'Q%' per k)
      min/max_lat/lon       queries/min-max-lat-lon.sql (1e-7 fixed-point,
                            the reference's native coordinate encoding)
      cnt_nodes_in_way      queries/cnt-nodes-in-way.sql (top-100 cells,
                            ties pinned by (cnt desc, cell))
      type_by_entity        queries/type.sql (per-entity-type value counts
                            for one key, three entity branches; full
                            deterministic set instead of the reference's
                            tie-unstable LIMIT 20)
      tower_types           queries/tower-types.sql (single-key value counts)
      lonely_addresses      queries/lonely-addresses.sql (pivot 2 keys per
                            image entity, group by the pair)

      count_source          queries/count-source.sql (top-200 values of one
                            pinned key; key mapped source→style, the
                            fixture's dense free-text key; ties pinned)
      k_ISO                 queries/k-ISO.sql (GLOB 'ISO*' → LIKE 'ISO%'
                            prefix scan on k, count per k)
      k_wikipedia           queries/k-wikipedia.sql (row select: one pinned
                            key, v NOT LIKE '%:%'; key mapped
                            wikipedia→name:en; one row per tag, cnt=1)
      q_rows                queries/Q.sql (row select: v LIKE 'Q%' AND k NOT
                            IN (...); the reference's bare LIMIT 100 pinned
                            by ORDER BY (k, c1, c2))
      denotation_tag        queries/denotation-tag.sql (same-entity tag
                            self-join: den.k joined to oth.k on nod_id,
                            group by oth value; keys mapped
                            denotation→name, description→style)
      network_values        queries/network.sql (count by v for k='network')
      type_route_hiking     queries/type-route-route-hiking.sql (3-way tag
                            self-join on rel_id gated on type=route +
                            route=hiking, count per k; full deterministic
                            set instead of the tie-unstable LIMIT 20)
      count_addr_city       queries/count-addr-city.sql (top-200 values of
                            one key by count; key mapped addr:city→place,
                            the fixture's per-image categorical key; ties
                            pinned by (cnt desc, v))
      count_addr_street     queries/count-addr-street.sql (same shape; key
                            mapped addr:street→name, the free-text key —
                            distinct from count_source's style so the two
                            transcriptions exercise different columns)
      frequency_addr_housenumber  queries/frequency-addr-housenumber.sql
                            (full per-value counts, no LIMIT — the
                            reference's ORDER BY count(*) is presentation
                            order only; key mapped addr:housenumber→q, the
                            dense identifier-like key)
      frequency_addr_street queries/frequency-addr-street.sql (full
                            per-value counts for addr:street→name)
      required_chars_k/_v/_kv  queries/required-chars-per-tag-{k,v,kv}.sql
                            (length-weighted storage estimate per key/value,
                            printf-formatted columns; top-60 by weight, ties
                            pinned; the kv variant's bare non-aggregated
                            length(v) — SQLite picks an arbitrary row —
                            is pinned to max(length(v)))

    queries/typos.sql and tag-count=1.sql are bare LIMIT samples with no
    ORDER BY tie-break — row-set-nondeterministic by construction — and are
    deliberately not transcribed (their capability classes, LIKE scans and
    frequency joins, are covered by the branches above).
    queries/ISO3166-1-node.sql is transcribed 1:1 as iso3166_node above;
    queries/node.sh and rel.sh are parameterized per-entity tag point
    lookups (the Q9/Q10 surface — rel_member_tags' pinned-entity slice is
    the same WHERE id = ? shape); pgsize.sql reads SQLite's internal dbstat
    table — N/A by design.
    """
    from ..operators import indexing

    eav = _eav(spark, sf_dir)
    images = fixtures.read_fixture(spark, sf_dir, fixtures.ensure_images)
    pts = indexing.geolocate_expr(images.select("image_id", "phash"))
    S = lambda x: F.lit(x).cast("string")  # noqa: E731
    NL = F.lit(None).cast("string")

    def pack(q, c1, c2, cnt):
        return [S(q).alias("query"), c1.alias("c1"), c2.alias("c2"), cnt.cast("bigint").alias("cnt")]

    branches = [
        eav.groupBy("k").count().select(*pack("most_frequent_keys", F.col("k"), NL, F.col("count"))),
        (
            eav.groupBy("v").count()
            .orderBy(F.col("count").desc(), F.col("v"))
            .limit(100)
            .select(*pack("most_frequent_values", F.col("v"), NL, F.col("count")))
        ),
        (
            eav.groupBy("v").count().filter(F.col("count") > 1000)
            .select(*pack("frequency_values", F.col("v"), NL, F.col("count")))
        ),
        images.agg(F.count(F.lit(1)).alias("n")).select(*pack("count_objects", S("images"), NL, F.col("n"))),
        eav.agg(F.countDistinct("polygon_id").alias("n")).select(*pack("count_objects", S("polygons"), NL, F.col("n"))),
        fixtures.read_fixture(spark, sf_dir, fixtures.ensure_collections)
        .agg(F.countDistinct("collection_id").alias("n"))
        .select(*pack("count_objects", S("collections"), NL, F.col("n"))),
        eav.agg(F.count(F.lit(1)).alias("n")).select(*pack("count_objects", S("tags"), NL, F.col("n"))),
        (
            eav.filter(F.length("v") == 1).groupBy("k", "v").count()
            .select(*pack("v_length_1", F.col("k"), F.col("v"), F.col("count")))
        ),
        eav.agg(F.max(F.length("k")).alias("m")).select(*pack("max_length_k", NL, NL, F.col("m"))),
        eav.agg(F.max(F.length("v")).alias("m")).select(*pack("max_length_v", NL, NL, F.col("m"))),
        eav.filter(F.length("k") > 30).agg(F.count(F.lit(1)).alias("n")).select(*pack("length_k_gt_30", NL, NL, F.col("n"))),
        eav.filter(F.lower(F.col("v")).like("http%")).agg(F.count(F.lit(1)).alias("n")).select(*pack("urls", NL, NL, F.col("n"))),
        (
            eav.filter(F.col("v").like("Q%")).groupBy("k").count()
            .select(*pack("v_like_Q", F.col("k"), NL, F.col("count")))
        ),
        pts.agg(F.round(F.min("lon") * 1e7).alias("x")).select(*pack("min_lon", NL, NL, F.col("x"))),
        pts.agg(F.round(F.min("lat") * 1e7).alias("x")).select(*pack("min_lat", NL, NL, F.col("x"))),
        pts.agg(F.round(F.max("lon") * 1e7).alias("x")).select(*pack("max_lon", NL, NL, F.col("x"))),
        pts.agg(F.round(F.max("lat") * 1e7).alias("x")).select(*pack("max_lat", NL, NL, F.col("x"))),
        (
            pts.select(indexing.grid_cell_col(F.col("lat"), F.col("lon"), 7).alias("cell_id"))
            .groupBy("cell_id").count()
            .orderBy(F.col("count").desc(), F.col("cell_id"))
            .limit(100)
            .select(*pack("cnt_nodes_in_way", F.col("cell_id").cast("string"), NL, F.col("count")))
        ),
        *[
            eav.filter(F.col(ent).isNotNull() & (F.col("k") == "place"))
            .groupBy("v").count()
            .select(*pack("type_by_entity", S(label), F.col("v"), F.col("count")))
            for ent, label in (
                ("image_id", "img"),
                ("polygon_id", "pol"),
                ("collection_id", "col"),
            )
        ],
        (
            eav.filter(F.col("k") == "kind").groupBy("v").count()
            .select(*pack("tower_types", F.col("v"), NL, F.col("count")))
        ),
        (
            eav.filter(F.col("image_id").isNotNull())
            .groupBy("image_id")
            .agg(
                F.max(F.when(F.col("k") == "place", F.col("v"))).alias("place"),
                F.max(F.when(F.col("k") == "style", F.col("v"))).alias("style"),
            )
            .groupBy("place", "style")
            .count()
            .select(*pack("lonely_addresses", F.col("place"), F.col("style"), F.col("count")))
        ),
    ]

    # --- r3 additions: the remaining small queries/ files ---
    ent_id = F.coalesce(
        F.col("image_id"),
        F.col("polygon_id").cast("string"),
        F.col("collection_id").cast("string"),
    )
    den = eav.filter((F.col("k") == "name") & F.col("image_id").isNotNull()).select(
        F.col("image_id").alias("den_id")
    )
    oth = eav.filter((F.col("k") == "style") & F.col("image_id").isNotNull())
    rid_type = eav.filter(
        (F.col("k") == "type") & (F.col("v") == "route") & F.col("collection_id").isNotNull()
    ).select(F.col("collection_id").alias("rid_t"))
    rid_route = eav.filter(
        (F.col("k") == "route") & (F.col("v") == "hiking") & F.col("collection_id").isNotNull()
    ).select(F.col("collection_id").alias("rid_r"))
    branches += [
        (
            eav.filter(F.col("k") == "style").groupBy("v").count()
            .orderBy(F.col("count").desc(), F.col("v")).limit(200)
            .select(*pack("count_source", F.col("v"), NL, F.col("count")))
        ),
        (
            eav.filter(F.col("k").like("ISO%")).groupBy("k").count()
            .select(*pack("k_ISO", F.col("k"), NL, F.col("count")))
        ),
        (
            eav.filter((F.col("k") == "name:en") & ~F.col("v").like("%:%"))
            .select(*pack("k_wikipedia", ent_id, F.col("v"), F.lit(1)))
        ),
        (
            eav.filter(F.col("v").like("Q%") & ~F.col("k").isin("q", "noun"))
            .select(F.col("k"), ent_id.alias("eid"), F.col("v"))
            .orderBy("k", "eid", "v").limit(100)
            .select(*pack("q_rows", F.col("k"), F.col("v"), F.lit(1)))
        ),
        (
            den.join(oth, F.col("den_id") == F.col("image_id"))
            .groupBy("k", "v").count()
            .select(*pack("denotation_tag", F.col("k"), F.col("v"), F.col("count")))
        ),
        (
            eav.filter(F.col("k") == "network").groupBy("v").count()
            .select(*pack("network_values", F.col("v"), NL, F.col("count")))
        ),
        (
            rid_type.join(rid_route, F.col("rid_t") == F.col("rid_r"))
            .join(eav, F.col("rid_r") == F.col("collection_id"))
            .groupBy("k").count()
            .select(*pack("type_route_hiking", F.col("k"), NL, F.col("count")))
        ),
        (
            eav.filter(F.col("k") == "place").groupBy("v").count()
            .orderBy(F.col("count").desc(), F.col("v")).limit(200)
            .select(*pack("count_addr_city", F.col("v"), NL, F.col("count")))
        ),
        (
            eav.filter(F.col("k") == "name").groupBy("v").count()
            .orderBy(F.col("count").desc(), F.col("v")).limit(200)
            .select(*pack("count_addr_street", F.col("v"), NL, F.col("count")))
        ),
        (
            eav.filter(F.col("k") == "q").groupBy("v").count()
            .select(*pack("frequency_addr_housenumber", F.col("v"), NL, F.col("count")))
        ),
        (
            eav.filter(F.col("k") == "name").groupBy("v").count()
            .select(*pack("frequency_addr_street", F.col("v"), NL, F.col("count")))
        ),
        (
            eav.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("w", F.col("cnt") * F.length("k"))
            .orderBy(F.col("w").desc(), F.col("k")).limit(60)
            .select(*pack(
                "required_chars_k", F.col("k"),
                F.format_string(
                    "%8.3f %9d", F.round(F.col("w") / 1024.0 / 1024.1, 3), F.col("cnt")
                ),
                F.col("cnt"),
            ))
        ),
        (
            eav.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("w", F.col("cnt") * F.length("v"))
            .orderBy(F.col("w").desc(), F.col("v")).limit(60)
            .select(*pack(
                "required_chars_v", F.col("v"),
                F.format_string(
                    "%8.3f %9d", F.round(F.col("w") / 1024.0 / 1024.0, 3), F.col("cnt")
                ),
                F.col("cnt"),
            ))
        ),
        (
            eav.groupBy("k").agg(
                F.count(F.lit(1)).alias("cnt"), F.max(F.length("v")).alias("mlv")
            )
            .withColumn("w", F.col("cnt") * F.length("k") * F.col("mlv"))
            .orderBy(F.col("w").desc(), F.col("k")).limit(60)
            .select(*pack(
                "required_chars_kv", F.col("k"),
                F.format_string(
                    "%8.3f %9d", F.round(F.col("w") / 1024.0 / 1024.1, 3), F.col("cnt")
                ),
                F.col("cnt"),
            ))
        ),
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out
