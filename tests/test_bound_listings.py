"""The four serving listings are bound-parameter SQL templates: request
values are bound, never parsed as SQL, and an omitted parameter folds
away.  Each listing must return exactly the rows of the DataFrame build
it replaced, which is kept below as the reference, on hand-built rows
with quoting and pattern characters and a NULL key, and on seeded
random requests over the fixture."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame, Window

from ozone_spark import tables
from ozone_spark.functions.dedup import bounded_window_key
from ozone_spark.operators import containers as cops, fso, listing

# ---- the DataFrame builds the templates replaced ---------------------------


def ref_list_keys(keys: DataFrame, prefix: str = "", start_key: str = "",
                  max_keys: int = 1000) -> DataFrame:
    page = keys
    if prefix:
        page = page.where(F.col("db_key").startswith(prefix))
    if start_key:
        page = page.where(F.col("db_key") > start_key)
    page = (
        page.select("db_key", "object_id", "data_size", "creation_time", "owner")
        .orderBy("db_key")
        .limit(max_keys + 1)
    )
    _k = bounded_window_key("db_key")
    return (
        page.withColumn("_rn", F.row_number().over(
            Window.partitionBy(_k).orderBy("db_key")))
        .withColumn("is_truncated",
                    F.count("*").over(Window.partitionBy(_k)) > max_keys)
        .where(F.col("_rn") <= max_keys)
        .drop("_rn")
    )


def ref_list_objects_v2(keys: DataFrame, volume: str, bucket: str,
                        prefix: str = "", delimiter: str = "/",
                        start_after: str = "",
                        max_keys: int = 1000) -> DataFrame:
    in_bucket = keys.where(
        (F.col("volume") == volume) & (F.col("bucket") == bucket)
        & F.col("key_name").startswith(prefix)
    )
    rest = F.substring(F.col("key_name"), len(prefix) + 1, 1 << 30)
    seg = F.substring_index(rest, delimiter, 1)
    has_delim = F.instr(rest, delimiter) > 0
    classified = in_bucket.select(
        F.when(has_delim, F.lit("COMMON_PREFIX")).otherwise(F.lit("KEY"))
        .alias("entry_type"),
        F.when(has_delim, F.concat(F.lit(prefix), seg, F.lit(delimiter)))
        .otherwise(F.col("key_name")).alias("name"),
        F.when(has_delim, F.lit(None).cast("long"))
        .otherwise(F.col("data_size")).alias("data_size"),
    )
    entries = (classified.groupBy("entry_type", "name")
               .agg(F.min("data_size").alias("data_size")))
    if start_after:
        entries = entries.where(F.col("name") > start_after)
    page = entries.orderBy("name").limit(max_keys + 1)
    _k = bounded_window_key("name")
    return (
        page.withColumn("_rn", F.row_number().over(
            Window.partitionBy(_k).orderBy("name")))
        .withColumn("is_truncated",
                    F.count("*").over(Window.partitionBy(_k)) > max_keys)
        .where(F.col("_rn") <= max_keys)
        .drop("_rn")
    )


def ref_list_status(directories: DataFrame, keys: DataFrame, parent: str,
                    max_entries: int = 1000) -> DataFrame:
    dirs = (
        directories.where(F.col("parent_path") == parent)
        .select("name", F.lit("DIR").alias("entry_type"),
                F.lit(None).cast("long").alias("data_size"))
    )
    files = (
        keys.where(F.regexp_replace(F.col("db_key"), "/[^/]+$", "") == parent)
        .select(F.substring_index("key_name", "/", -1).alias("name"),
                F.lit("FILE").alias("entry_type"), "data_size")
    )
    return dirs.unionByName(files).orderBy("name").limit(max_entries)


def ref_keys_for_container(locations: DataFrame, keys: DataFrame,
                           container_id: int) -> DataFrame:
    refs = (
        locations.where(F.col("container_id") == container_id)
        .groupBy("object_id")
        .agg(F.count("*").alias("block_count"),
             F.sum("block_len").alias("bytes"))
    )
    return (
        keys.join(refs, "object_id")
        .select("db_key", "object_id", "data_size", "block_count", "bytes")
        .orderBy("db_key")
    )


def assert_same(got: DataFrame, want: DataFrame, what) -> None:
    assert got.dtypes == want.dtypes, what
    assert got.collect() == want.collect(), what


# ---- hand-built rows: quoting, pattern and format characters, a NULL key ---

# key names under /v/b/; each exercises one way a formatted value breaks
NAMES = ["a'b/c.txt", "a'b/d", "back\\slash/x", "back\\slash/y", "100%/z",
         "100%_y", "100_/w", "under_score/u", "co:lon/1", "co:lon/:2",
         "{}/brace", "{x}", "{prefix}/p", "naïve/ß.txt", "日本/語.txt",
         "日本/語/深", "emoji😀/f", "plain"]
PREFIXES = ["", "a'", "a'b/", "back\\", "back\\slash/", "100%", "100%/",
            "100_", "under_", "co:", "co:lon/", "{}", "{", "{prefix}/",
            "naïve/", "日本/", "emoji😀/", "%", "_", "'", ":prefix",
            "nope/"]
PARENTS = ["/v/b", "/v/b/a'b", "/v/b/back\\slash", "/v/b/100%",
           "/v/b/co:lon", "/v/b/{}", "/v/b/日本", "/v/b/%", "/v/b/nope"]


@pytest.fixture(scope="module")
def hand(spark):
    rows = [(i, "v", "b", n, "/v/b/" + n, 10 * i, 1000 + i, f"u{i % 3}")
            for i, n in enumerate(NAMES)]
    # a key row whose db_key is NULL: an omitted prefix keeps it, as the
    # DataFrame build did
    rows.append((99, "v", "b", "null/key", None, 5, 1099, "u0"))
    keys = spark.createDataFrame(
        rows, "object_id long, volume string, bucket string, key_name string, "
              "db_key string, data_size long, creation_time long, "
              "owner string").coalesce(1)
    dirs = spark.createDataFrame(
        [(p, d) for p in PARENTS for d in ("d'1", "d%2", "d_{3}", "dé")],
        "parent_path string, name string").coalesce(1)
    # held in the block manager, so no query re-reads the Python rows
    return keys.localCheckpoint(), dirs.localCheckpoint()


@pytest.mark.parametrize("prefix", PREFIXES)
def test_list_keys_binds_the_prefix(hand, prefix):
    keys, _ = hand
    full = "/v/b/" + prefix if prefix else ""
    for start, n in (("", 2), ("/v/b/co:lon/1", 100)):
        assert_same(listing.list_keys(keys, full, start, n),
                    ref_list_keys(keys, full, start, n), (full, start, n))


def test_list_keys_without_prefix_keeps_the_null_key(hand):
    keys, _ = hand
    rows = listing.list_keys(keys, "", "", 5).collect()
    assert rows[0].db_key is None and len(rows) == 5 and rows[0].is_truncated
    assert_same(listing.list_keys(keys), ref_list_keys(keys), "defaults")


@pytest.mark.parametrize("prefix", PREFIXES)
def test_list_objects_v2_binds_the_prefix(hand, prefix):
    keys, _ = hand
    for start_after, n in (("", 2), ("co:lon/1", 100)):
        assert_same(
            listing.list_objects_v2(keys, "v", "b", prefix, "/",
                                    start_after, n),
            ref_list_objects_v2(keys, "v", "b", prefix, "/", start_after, n),
            (prefix, start_after, n))


@pytest.mark.parametrize("vol, bucket, prefix, delim", [
    ("v", "b", "", "%"), ("v", "b", "a", "'"), ("v", "b", "", ":"),
    ("v", "b", "日", "本"), ("v", "b'", "", "/"), ("v%", "_", "", "/")])
def test_list_objects_v2_binds_the_delimiter_and_bucket(
        hand, vol, bucket, prefix, delim):
    keys, _ = hand
    assert_same(listing.list_objects_v2(keys, vol, bucket, prefix, delim),
                ref_list_objects_v2(keys, vol, bucket, prefix, delim),
                (vol, bucket, prefix, delim))


@pytest.mark.parametrize("parent", PARENTS)
def test_list_status_binds_the_parent(hand, parent):
    keys, dirs = hand
    assert_same(fso.list_status(dirs, keys, parent, 3),
                ref_list_status(dirs, keys, parent, 3), parent)
    assert_same(fso.list_status(dirs, keys, parent),
                ref_list_status(dirs, keys, parent), parent)


def test_list_objects_v2_continuation_token_equals_start_after(hand):
    keys, _ = hand
    token = listing.encode_continue_token("co:lon/")
    assert_same(
        listing.list_objects_v2(keys, "v", "b", continuation_token=token),
        ref_list_objects_v2(keys, "v", "b", start_after="co:lon/"), token)


# ---- seeded random requests over the fixture ---------------------------------

N_RANDOM = 25


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return tables.namespace_views(spark, sf_dir)


def _prefix(rng: random.Random, depth: int) -> str:
    parts = [f"vol{rng.randrange(4)}", f"b{rng.randrange(3)}",
             rng.choice("fop"), f"y{rng.randrange(1992, 1999)}"]
    return "/" + "/".join(parts[:depth]) + "/"


def test_random_list_keys_equal_the_dataframe_build(t):
    rng = random.Random(1101)
    for _ in range(N_RANDOM):
        prefix = _prefix(rng, rng.randint(1, 4)) if rng.random() < 0.8 else ""
        start = (prefix + rng.choice(("f", "o/y1995", "p/y1997/order-"))
                 if rng.random() < 0.5 else "")
        n = rng.choice((1, 10, 25, 100))
        assert_same(listing.list_keys(t["keys"], prefix, start, n),
                    ref_list_keys(t["keys"], prefix, start, n),
                    (prefix, start, n))


def test_random_list_objects_v2_equal_the_dataframe_build(t):
    rng = random.Random(1102)
    for _ in range(N_RANDOM):
        vol, bucket = f"vol{rng.randrange(4)}", f"b{rng.randrange(3)}"
        prefix = _prefix(rng, rng.randint(2, 4))[len(f"/{vol}/{bucket}/"):] \
            if rng.random() < 0.7 else ""
        after = prefix + rng.choice(("", "o", "y1996/")) \
            if rng.random() < 0.4 else ""
        n = rng.choice((1, 10, 25, 100))
        assert_same(
            listing.list_objects_v2(t["keys"], vol, bucket, prefix, "/",
                                    after, n),
            ref_list_objects_v2(t["keys"], vol, bucket, prefix, "/", after, n),
            (vol, bucket, prefix, after, n))


def test_random_list_status_equal_the_dataframe_build(t):
    rng = random.Random(1103)
    for _ in range(N_RANDOM):
        parent = _prefix(rng, rng.randint(1, 4))[:-1]
        n = rng.choice((1, 10, 25, 100))
        assert_same(fso.list_status(t["directories"], t["keys"], parent, n),
                    ref_list_status(t["directories"], t["keys"], parent, n),
                    (parent, n))


def test_random_container_keys_equal_the_dataframe_build(t):
    rng = random.Random(1104)
    for _ in range(N_RANDOM):
        cid = rng.randrange(70)
        assert_same(
            cops.keys_for_container(t["locations"], t["keys"], cid),
            ref_keys_for_container(t["locations"], t["keys"], cid), cid)
