"""Table loaders + the derived Ozone-shaped namespace.

The driver provides TPC-H-ish parquet tables (TESTDATA.md).  The
reference engine's query surface operates over an *object-store
namespace* (volumes/buckets/keys — OmKeyInfo, OMDBDefinition.java:209)
and a *data plane* (containers/replicas — SCM).  We derive that
namespace deterministically from the driver tables with pure
SQL-expressible transforms, so every namespace operator can be checked
against the DuckDB oracle (ozone_spark/oracle.py holds the equivalent
CTE text — keep the two in lockstep).

`namespace_views` returns a lazy name -> DataFrame map: no table is
read and no view derived until it is first accessed, and each is then
memoized, so a request pays only for the views it touches.

Derivation map (all arithmetic chosen to be bit-exact in both engines):

  keys        <- orders    (one key per order; db_key sorted-lexicographic,
                            path-shaped key_name with 2 directory levels)
  locations   <- lineitem  (one block per lineitem; container_id 0..54,
                            ids 50..54 deliberately missing from SCM)
  containers  <- range(50) (pure function of container_id; states cover
                            OPEN/CLOSING/CLOSED/DELETING/DELETED)
  replicas    <- range(50) x range(1..4)  (replica counts 0..4 per
                            container -> MISSING/UNDER/OVER cases;
                            one checksum-mismatch case per 9 containers)
  snap1/snap2 <- keys      (two frozen snapshot versions engineered to
                            contain CREATE/DELETE/MODIFY/RENAME diffs —
                            SnapshotDiffManager.java:994-1230 classes)
  open_keys   <- keys      (object_id % 17 == 0)
  deleted_keys<- keys      (object_id % 9 == 0, versioned)

Reference schema parity: OmKeyInfo.java:72-113 (volume/bucket/keyName/
dataSize/replication/creationTime/owner), OMDBDefinition.java:209-273.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Mapping

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from ozone_spark.session import apply_runtime_confs

DRIVER_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Fixed "wall clock" for TTL/age predicates: 2002-01-01T00:00:00Z (epoch ms).
# Deterministic across engines and scale factors (max o_orderdate is 2001-08-01).
NOW_MS = 1009843200000

N_CONTAINERS = 50
N_DATANODES = 8


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # ns-precision parquet timestamp read as long (nanosAsLong);
        # integer-divide to micros — exact, no double round-trip.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # session tz is pinned UTC, so NTZ→TZ keeps the wall clock AND
            # the instant; unix_millis/window/watermark all require TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# Derived namespace (OM metadata plane)
# ---------------------------------------------------------------------------

def keys_view(orders: DataFrame) -> DataFrame:
    """OM key table analog (keyTable — OMDBDefinition.java:209; row schema
    OmKeyInfo.java:72-113). One key per order; key_name has two directory
    levels so listings/delimiter-grouping/rollup have a real hierarchy."""
    volume = F.concat(F.lit("vol"), (F.col("o_custkey") % 4).cast("string"))
    bucket = F.concat(F.lit("b"), (F.col("o_custkey") % 3).cast("string"))
    leaf = F.concat(F.lit("order-"),
                    F.lpad(F.col("o_orderkey").cast("string"), 10, "0"))
    # every 10th key (orderkey%10==7) nests two levels deeper (month/day
    # dirs) so the namespace has arbitrary-depth branches — rollups,
    # directory listings and BFS deletes must be depth-generic, matching
    # the reference's parent-pointer walk (NSSummaryTaskDbEventHandler
    # .java:426-449 propagates to ANY depth)
    base = F.concat(
        F.lower("o_orderstatus"),
        F.lit("/y"), F.year("o_orderdate").cast("string"),
    )
    deep = F.concat(
        base,
        F.lit("/m"), F.lpad(F.month("o_orderdate").cast("string"), 2, "0"),
        F.lit("/d"), F.lpad(F.dayofmonth("o_orderdate").cast("string"), 2, "0"),
    )
    key_name = F.concat(
        F.when(F.col("o_orderkey") % 10 == 7, deep).otherwise(base),
        F.lit("/"), leaf,
    )
    data_size = F.floor(F.col("o_totalprice") * 100).cast("long")
    repl = (F.lit(1) + F.col("o_orderkey") % 3).cast("int")
    # tags map<string,string> (OmKeyInfo.java:110 tags; exercised by the
    # lifecycle tag filters, OmLCFilter / OmLifecycleRuleAndOperator
    # .java:43-54): every key carries a 'tier' tag; every 5th key an
    # additional 'tmp' marker — so map_contains/absent-key semantics are
    # both represented.
    tier = F.lower(F.substring_index(F.col("o_orderpriority"), "-", -1))
    tags = F.when(
        F.col("o_orderkey") % 5 == 0,
        F.map_concat(F.create_map(F.lit("tier"), tier),
                     F.create_map(F.lit("tmp"), F.lit("true"))),
    ).otherwise(F.create_map(F.lit("tier"), tier))
    return (
        orders.select(
            F.col("o_orderkey").alias("object_id"),
            volume.alias("volume"),
            bucket.alias("bucket"),
            key_name.alias("key_name"),
            data_size.alias("data_size"),
            repl.alias("repl_factor"),
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("creation_time"),
            F.concat(F.lit("user"), (F.col("o_custkey") % 10).cast("string")).alias("owner"),
            F.col("o_orderpriority").alias("priority"),
            tags.alias("tags"),
        )
        .withColumn("replicated_size", F.col("data_size") * F.col("repl_factor"))
        .withColumn(
            "db_key",
            F.concat(F.lit("/"), F.col("volume"), F.lit("/"), F.col("bucket"),
                     F.lit("/"), F.col("key_name")),
        )
    )


def locations_view(lineitem: DataFrame) -> DataFrame:
    """Block-location list analog (OmKeyInfo.keyLocationVersions —
    OmKeyInfo.java:75; exploded shape of ContainerKeyMapperHelper.java:144-175).
    One block per lineitem; container ids 50..54 are OM-referenced but
    absent from SCM (drives mismatch join J3)."""
    # block_seq (l_linenumber) is NOT unique per order in the fixtures —
    # order by every derived column so ties only remain between fully
    # identical rows, where the cumulative offsets are interchangeable
    w = (
        Window.partitionBy("object_id")
        .orderBy("block_seq", "container_id", "block_len", "local_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        lineitem.select(
            F.col("l_orderkey").alias("object_id"),
            F.col("l_linenumber").alias("block_seq"),
            ((F.col("l_partkey") * 7 + F.col("l_suppkey")) % 55).alias("container_id"),
            (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("local_id"),
            F.floor("l_extendedprice").cast("long").alias("block_len"),
        )
        .withColumn("block_offset", F.sum("block_len").over(w) - F.col("block_len"))
    )


def containers_view(spark: SparkSession) -> DataFrame:
    """SCM container table analog (SCMClientProtocolServer.java:506-531).
    Pure function of container_id so both engines derive it identically."""
    c = F.col("container_id")
    state = (
        F.when(c % 10 == 0, "DELETED")
        .when(c % 10 == 1, "DELETING")
        .when((c % 10).isin(2, 3), "OPEN")
        .when(c % 10 == 4, "CLOSING")
        .otherwise("CLOSED")
    )
    used = F.when(c % 13 == 0, F.lit(0).cast("long")).otherwise(
        F.pow(F.lit(2.0), (F.lit(26) + c % 8).cast("double")).cast("long") + c
    )
    return (
        spark.range(N_CONTAINERS).select(F.col("id").alias("container_id"))
        .withColumn("state", state)
        .withColumn("used_bytes", used)
        .withColumn("expected_replicas", F.lit(3).cast("int"))
        .withColumn("owner", F.concat(F.lit("svc"), (c % 3).cast("string")))
    )


def replicas_view(spark: SparkSession) -> DataFrame:
    """Container replica census analog (ContainerHealthTask.java:54+).
    Replica count per container: c%7 -> {0:0,1:1,2:2,3:3,4:4,5:3,6:3};
    container c%9==4 carries one corrupt-checksum replica
    (REPLICA_MISMATCH — ContainerSchemaDefinition.java:120-128)."""
    c, i = F.col("container_id"), F.col("replica_idx")
    rc = (
        F.when(c % 7 == 0, 0).when(c % 7 == 1, 1).when(c % 7 == 2, 2)
        .when(c % 7 == 4, 4).otherwise(3)
    )
    return (
        spark.range(N_CONTAINERS).select(F.col("id").alias("container_id"))
        .crossJoin(spark.range(1, 5).select(F.col("id").alias("replica_idx")))
        .where(i <= rc)
        .withColumn("datanode", F.concat(F.lit("dn"), ((c * 5 + i) % N_DATANODES).cast("string")))
        .withColumn("checksum", F.when((c % 9 == 4) & (i == 1), "bad").otherwise("ok"))
        # block-commit-sequence id: one replica per 8th container lags (J10)
        .withColumn("bcsid", c * 10 + F.when((c % 8 == 3) & (i == 2), 3).otherwise(7))
    )


def datanodes_view(spark: SparkSession) -> DataFrame:
    """Datanode registry analog (A7 — ContainerBalancerTask.java:518-587;
    health model NodeStateManager: HEALTHY / STALE / DEAD from heartbeat
    age vs the stale/dead intervals).  Heartbeat ages are deterministic
    functions of the node index: node 5 is stale, node 7 is dead."""
    d = F.col("dn_idx")
    hb_age = (
        F.when(d == 7, F.lit(900_000))       # dead: 15 min silent
        .when(d == 5, F.lit(120_000))        # stale: 2 min silent
        .otherwise(d * F.lit(1_000))         # healthy: seconds
    )
    state = (
        F.when(d == 7, F.lit("DEAD"))
        .when(d == 5, F.lit("STALE"))
        .otherwise(F.lit("HEALTHY"))
    )
    return (
        spark.range(N_DATANODES).select(F.col("id").alias("dn_idx"))
        .select(
            F.concat(F.lit("dn"), d.cast("string")).alias("datanode"),
            (F.lit(34359738368) * (1 + d % 3)).alias("capacity"),
            F.concat(F.lit("rack"), (d % 2).cast("string")).alias("rack"),
            # 3-level topology path (dc/rack/node — NetworkTopologyImpl
            # supports arbitrary-depth schemas; dn0-3 in dc0, dn4-7 in
            # dc1, racks nested per-dc): the generalized tree-distance
            # input for topology_sorted_replicas
            F.concat(F.lit("/dc"), (d / 4).cast("int").cast("string"),
                     F.lit("/rack"), (d % 2).cast("string"),
                     F.lit("/dn"), d.cast("string")).alias("topology_path"),
            state.alias("state"),
            (F.lit(NOW_MS) - hb_age).alias("last_heartbeat_ms"),
        )
    )


def snap1_view(keys: DataFrame) -> DataFrame:
    """Frozen snapshot version 1 (SnapshotInfo chain — SnapshotInfo.java:53-117).
    Excludes object_id%13==0 (those appear only in snap2 -> CREATE);
    object_id%11==0 carry an '.old' name (renamed by snap2 -> RENAME)."""
    oid = F.col("object_id")
    return keys.where(oid % 13 != 0).select(
        "object_id", "volume", "bucket",
        F.when(oid % 11 == 0, F.concat(F.col("key_name"), F.lit(".old")))
        .otherwise(F.col("key_name")).alias("key_name"),
        "data_size",
    )


def snap2_view(keys: DataFrame) -> DataFrame:
    """Frozen snapshot version 2: excludes object_id%7==0 (DELETE),
    object_id%5==0 grew by 1 KiB (MODIFY)."""
    oid = F.col("object_id")
    return keys.where(oid % 7 != 0).select(
        "object_id", "volume", "bucket", "key_name",
        F.when(oid % 5 == 0, F.col("data_size") + 1024)
        .otherwise(F.col("data_size")).alias("data_size"),
    )


def snap3_view(keys: DataFrame) -> DataFrame:
    """Frozen snapshot version 3 — third link of the snapshot chain
    (snap1 <- snap2 <- snap3 previous-pointers, SnapshotInfo.java:53-117).
    vs snap2: object_id%17==0 dropped (DELETE), object_id%14==0 return
    after being absent from snap2 (re-CREATE — exercises delete-then-
    recreate in chained diffs), object_id%19==0 renamed '.v3',
    object_id%4==0 grew 3 KiB (MODIFY).  Sizes/names are pure functions
    of the base key table so the DuckDB oracle replays them exactly."""
    oid = F.col("object_id")
    live = ((oid % 7 != 0) | (oid % 14 == 0)) & (oid % 17 != 0)
    size3 = (
        F.col("data_size")
        + F.when(oid % 5 == 0, 1024).otherwise(0)
        + F.when(oid % 4 == 0, 3072).otherwise(0)
    )
    return keys.where(live).select(
        "object_id", "volume", "bucket",
        F.when(oid % 19 == 0, F.concat(F.col("key_name"), F.lit(".v3")))
        .otherwise(F.col("key_name")).alias("key_name"),
        size3.alias("data_size"),
    )


def snapshot_chain_view(spark: SparkSession) -> DataFrame:
    """snapshotInfoTable analog (OMDBDefinition.java:302-305): the chain
    of snapshots linked by previous-snapshot pointers
    (SnapshotInfo.java:53-117), one taken every 30 days."""
    sid = F.col("id")
    return spark.range(1, 4).select(
        F.concat(F.lit("snap"), sid.cast("string")).alias("snapshot_name"),
        sid.cast("int").alias("chain_pos"),
        F.when(sid > 1, F.concat(F.lit("snap"), (sid - 1).cast("string")))
        .alias("previous_snapshot"),
        (F.lit(NOW_MS) - (F.lit(4) - sid) * 30 * 86400000).alias("create_time"),
    )


def directories_view(keys: DataFrame) -> DataFrame:
    """FSO directoryTable analog (OMDBDefinition.java:260,
    OmDirectoryInfo.java:38-53): every directory implied by key_name at
    ANY depth, as an adjacency list keyed by materialized path (the
    Spark replacement for parentObjectId pointers — SURVEY.md §1.1)."""
    root = F.concat(F.lit("/"), F.col("volume"), F.lit("/"), F.col("bucket"))
    parts = F.split(F.col("key_name"), "/")
    depths = F.sequence(F.lit(1), F.size(parts) - 1)  # proper dir prefixes
    exploded = keys.where(F.size(parts) > 1).select(
        "volume", "bucket", root.alias("root"), parts.alias("parts"),
        F.explode(depths).alias("depth"),
    )
    prefix = F.array_join(F.slice("parts", F.lit(1), F.col("depth")), "/")
    parent = F.when(
        F.col("depth") == 1, F.col("root")
    ).otherwise(F.concat(
        F.col("root"), F.lit("/"),
        F.array_join(F.slice("parts", F.lit(1), F.col("depth") - 1), "/")))
    return exploded.select(
        "volume", "bucket",
        parent.alias("parent_path"),
        F.concat(F.col("root"), F.lit("/"), prefix).alias("path"),
        F.element_at("parts", F.col("depth")).alias("name"),
        F.col("depth"),
    ).distinct()


def open_keys_view(keys: DataFrame) -> DataFrame:
    """openKeyTable analog (OMDBDefinition.java:223; expiry contract
    OpenKeyCleanupService.java:79-111)."""
    oid = F.col("object_id")
    return keys.where(oid % 17 == 0).select(
        "db_key", "object_id", "volume", "bucket", "key_name",
        "data_size", "replicated_size", "creation_time",
        (oid * 3).alias("client_id"),
        (oid % 2 == 0).alias("hsync"),
    )


def deleted_keys_view(keys: DataFrame) -> DataFrame:
    """deletedTable analog (OMDBDefinition.java:216 — RepeatedOmKeyInfo:
    num_versions models the repeated pending-delete versions list)."""
    oid = F.col("object_id")
    return (
        keys.where(oid % 9 == 0)
        .select("db_key", "object_id", "volume", "bucket", "data_size",
                "replicated_size", "creation_time",
                (F.lit(1) + oid % 2).cast("long").alias("num_versions"))
        .withColumn("pending_bytes", F.col("data_size") * F.col("num_versions"))
        .withColumn("pending_replicated_bytes",
                    F.col("replicated_size") * F.col("num_versions"))
    )


def multipart_uploads_view(keys: DataFrame) -> DataFrame:
    """multipartInfoTable analog (OMDBDefinition.java:230-233,
    OmMultipartKeyInfo): in-flight uploads — one per 23rd key, initiated
    at the key's creation time, upload id = md5(db_key) (the reference's
    ids are UUIDs; md5 keeps it oracle-replayable)."""
    oid = F.col("object_id")
    return keys.where(oid % 23 == 0).select(
        F.md5("db_key").alias("upload_id"),
        "db_key", "object_id", "volume", "bucket", "key_name", "owner",
        F.col("creation_time").alias("initiated_ms"),
        (F.lit(1) + oid % 5).cast("int").alias("n_parts"),
        F.col("data_size").alias("part_bytes"),
        "repl_factor",
    )


def user_volumes_view(keys: DataFrame) -> DataFrame:
    """userTable analog (PersistedUserVolumeInfo — OMDBDefinition.java:
    149-152; dispatch OzoneManagerRequestHandler.java:218): the
    user -> owned-volumes mapping.  Volume ownership is derived
    deterministically as the owner of the volume's earliest key (min
    creation_time, ties by object_id) — the fixture stand-in for the
    volume-create principal.  One row per (user, volume)."""
    w = Window.partitionBy("volume").orderBy("creation_time", "object_id")
    return (
        keys.select("volume", "owner", "creation_time", "object_id")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("owner").alias("user"), "volume")
    )


def trash_entries_view(keys: DataFrame) -> DataFrame:
    """.Trash namespace analog (TrashPolicyOzone.java /
    TrashOzoneFileSystem.java — HDFS-style per-user trash under each
    bucket): one per 21st key, living in Current or in one of two
    timestamped checkpoints (10 and 40 days old)."""
    oid = F.col("object_id")
    # selector must be independent of the %21 membership filter
    # (oid%21==0 forces oid%3==0) — use the quotient's residue instead
    sel = F.expr("object_id div 21") % 3
    checkpoint_ms = (
        F.when(sel == 1, F.lit(NOW_MS - 10 * 86400000))
        .when(sel == 2, F.lit(NOW_MS - 40 * 86400000))
        .otherwise(F.lit(None).cast("long"))
    )
    checkpoint = F.when(
        checkpoint_ms.isNull(), F.lit("Current")
    ).otherwise(F.concat(F.lit("ckpt-"), checkpoint_ms.cast("string")))
    return keys.where(oid % 21 == 0).select(
        "object_id", "volume", "bucket", "owner", "key_name", "data_size",
        checkpoint_ms.alias("checkpoint_ms"),
        checkpoint.alias("checkpoint"),
        F.concat(
            F.lit("/"), F.col("volume"), F.lit("/"), F.col("bucket"),
            F.lit("/.Trash/"), F.col("owner"), F.lit("/"), checkpoint,
            F.lit("/"), F.col("key_name"),
        ).alias("trash_path"),
    )


def acl_entries_view(spark: SparkSession) -> DataFrame:
    """ACL grant table analog (volume/bucket/key acl arrays —
    OmKeyInfo.java:72-113, OmVolumeArgs.java:50-71; evaluated on every
    read, KeyManagerImpl.java:814).  Flat rows (path, entity_type,
    entity, right) with ONE right per row so rights-set unions stay
    relational: volume-level USER r+w grants for the volume's 'home'
    users, WORLD read on even volumes, bucket-level GROUP read and a
    cross-user write grant."""
    vols = spark.range(4).select(F.col("id").alias("v"))
    buckets = spark.range(3).select(F.col("id").alias("b"))
    vpath = F.concat(F.lit("/vol"), F.col("v").cast("string"))
    bpath = F.concat(vpath, F.lit("/b"), F.col("b").cast("string"))
    vol_user = vols.crossJoin(
        spark.createDataFrame([("r",), ("w",)], "right string")).select(
        vpath.alias("path"), F.lit("USER").alias("entity_type"),
        F.concat(F.lit("user"), F.col("v").cast("string")).alias("entity"),
        "right")
    vol_world = vols.where(F.col("v") % 2 == 0).select(
        vpath.alias("path"), F.lit("WORLD").alias("entity_type"),
        F.lit("").alias("entity"), F.lit("r").alias("right"))
    bk = vols.crossJoin(buckets)
    bucket_group = bk.select(
        bpath.alias("path"), F.lit("GROUP").alias("entity_type"),
        F.concat(F.lit("grp"), F.col("b").cast("string")).alias("entity"),
        F.lit("r").alias("right"))
    bucket_user = bk.select(
        bpath.alias("path"), F.lit("USER").alias("entity_type"),
        F.concat(F.lit("user"),
                 ((F.col("v") + F.col("b")) % 10).cast("string")).alias("entity"),
        F.lit("w").alias("right"))
    return (vol_user.unionByName(vol_world).unionByName(bucket_group)
            .unionByName(bucket_user))


def tenant_access_view(customer: DataFrame) -> DataFrame:
    """Multi-tenancy access-id table analog (tenantAccessIdTable +
    s3SecretTable — OMDBDefinition.java:279-296,163-166).  One S3 access
    id per sixth customer; the tenant is a deterministic shard of the
    customer key, the principal the same user pool as key ownership, and
    the secret the md5 of the access id (s3SecretTable analog)."""
    ck = F.col("c_custkey")
    return customer.where(ck % 6 == 0).select(
        F.concat(F.lit("access-"), ck.cast("string")).alias("access_id"),
        F.concat(F.lit("tenant"), (ck % 5).cast("string")).alias("tenant_id"),
        F.concat(F.lit("user"), (ck % 10).cast("string")).alias("principal"),
        (ck % 7 == 0).alias("is_admin"),
        F.md5(F.concat(F.lit("access-"), ck.cast("string"))).alias("secret"),
    )


def sst_catalog_view(spark: SparkSession) -> DataFrame:
    """SST-file catalog analog for the compaction DAG (CompactionNode.java:
    fileName/seqNum/startKey/endKey).  69 files from a deterministic
    LSM history:

      0..39   L0 flushes, gen = sst+1
      40..59  L1 outputs of compaction c_g (g=0..9, seq 50+10g;
              inputs {4g..4g+3}, outputs {40+2g, 41+2g})
      60,61   L2 outputs of the seq-160 compaction of L1 {40..43}
      62      L2 output of the seq-170 compaction of L1 {44..47}
      63..68  post-snapshot L0 flushes, gens 101..106
      (a seq-210 compaction consumes 68 -> 69; 69 is never snapshot-live,
       it exists only so 68 is a DAG node with no forward successors)

    `gen` is the file's creation sequence number — the honest-history
    equivalent of CompactionNode.getSnapshotGeneration() for every
    verdict the differ can actually reach.  start/end key range covers
    volume sst%4 only (RocksDiffUtils key-range pruning)."""
    s = F.col("sst_id")
    gen = (
        F.when(s < 40, s + 1)
        .when(s < 60, F.lit(50) + F.floor((s - 40) / 2) * 10)
        .when(s < 62, F.lit(160))
        .when(s == 62, F.lit(170))
        .when(s < 69, s + 38)
        .otherwise(F.lit(210))
    )
    vol = F.concat(F.lit("/vol"), (s % 4).cast("string"))
    return spark.range(70).select(
        F.col("id").alias("sst_id"),
        gen.cast("long").alias("gen"),
        vol.alias("start_key"),
        F.concat(vol, F.lit("/~")).alias("end_key"),
    )


def compaction_edges_view(spark: SparkSession) -> DataFrame:
    """Forward compaction-DAG edge list (CompactionDag.java:65-80:
    populateCompactionDAG draws output->input edges; successors of a
    file are the inputs it was compacted from).  Pure cross-join of the
    deterministic history in sst_catalog_view."""
    g = F.col("g")
    i = F.col("i")
    l1 = (
        spark.range(10).select(F.col("id").alias("g"))
        .crossJoin(spark.range(2).select(F.col("id").alias("o")))
        .crossJoin(spark.range(4).select(F.col("id").alias("i")))
        .select((F.lit(40) + g * 2 + F.col("o")).alias("out_sst"),
                (g * 4 + i).alias("in_sst"),
                (F.lit(50) + g * 10).alias("seq"))
    )
    l2a = (
        spark.range(2).select((F.col("id") + 60).alias("out_sst"))
        .crossJoin(spark.range(40, 44).select(F.col("id").alias("in_sst")))
        .withColumn("seq", F.lit(160).cast("long"))
    )
    l2b = spark.range(44, 48).select(
        F.lit(62).cast("long").alias("out_sst"),
        F.col("id").alias("in_sst"),
        F.lit(170).cast("long").alias("seq"))
    post = spark.range(1).select(
        F.lit(69).cast("long").alias("out_sst"),
        F.lit(68).cast("long").alias("in_sst"),
        F.lit(210).cast("long").alias("seq"))
    return l1.unionByName(l2a).unionByName(l2b).unionByName(post)


def sst_snapshot_files_view(spark: SparkSession) -> DataFrame:
    """Live SST set per snapshot (DifferSnapshotVersion.getSstFileMap):
    'snap-d' (dest, gen 95) holds {20..49}; 'snap-s' (src, gen 200)
    holds {48..68}."""
    dest = spark.range(20, 50).select(
        F.lit("snap-d").alias("snapshot_name"),
        F.lit(95).cast("long").alias("snapshot_gen"),
        F.col("id").alias("sst_id"))
    src = spark.range(48, 69).select(
        F.lit("snap-s").alias("snapshot_name"),
        F.lit(200).cast("long").alias("snapshot_gen"),
        F.col("id").alias("sst_id"))
    return dest.unionByName(src)


def delegation_tokens_view(spark: SparkSession) -> DataFrame:
    """dTokenTable analog (OMDBDefinition.java:156-159: token ->
    renew time).  40 tokens: issued t%14 days before NOW, renewable
    until issue + (1 + t%10) days — so expiry varies per token."""
    t = F.col("token_id")
    day = 86400000
    issue = F.lit(NOW_MS) - (t % 14) * day
    return spark.range(40).select(
        F.col("id").alias("token_id"),
        F.concat(F.lit("user"), (t % 10).cast("string")).alias("owner"),
        F.concat(F.lit("svc"), (t % 3).cast("string")).alias("renewer"),
        issue.alias("issue_ms"),
        (issue + (1 + t % 10) * day).alias("renew_till_ms"),
    )


def pipelines_view(spark: SparkSession) -> DataFrame:
    """SCM pipeline registry analog (PipelineManagerImpl; `ozone admin
    pipeline list`).  12 pipelines, one row per member: p%4==3 ->
    CLOSED else OPEN; p%3==0 -> ONE (single member p%10) else THREE
    (members (3p+k)%10, k=0..2).  Member indexes run 0..9 while only
    dn0..dn7 are registered, so some members are unregistered nodes —
    exercised by the one-replica safemode rule."""
    p = F.col("pipeline_id")
    base = spark.range(12).select(F.col("id").alias("pipeline_id"))
    state = F.when(p % 4 == 3, "CLOSED").otherwise("OPEN")
    three = (
        base.where(p % 3 != 0)
        .crossJoin(spark.range(3).select(F.col("id").alias("k")))
        .select(p.alias("pipeline_id"), state.alias("state"),
                F.lit("THREE").alias("replication"),
                F.concat(F.lit("dn"), ((p * 3 + F.col("k")) % 10)
                         .cast("string")).alias("datanode"))
    )
    one = base.where(p % 3 == 0).select(
        p.alias("pipeline_id"), state.alias("state"),
        F.lit("ONE").alias("replication"),
        F.concat(F.lit("dn"), (p % 10).cast("string")).alias("datanode"))
    return three.unionByName(one)


# derived view -> (builder, source view); a None source means the
# builder takes the session itself.  Sources are entries of the same
# map, so a base view is derived once however many views read it.
_DERIVED: dict[str, tuple[Callable[..., DataFrame], str | None]] = {
    "keys": (keys_view, "orders"),
    "directories": (directories_view, "keys"),
    "locations": (locations_view, "lineitem"),
    "containers": (containers_view, None),
    "replicas": (replicas_view, None),
    "datanodes": (datanodes_view, None),
    "snap1": (snap1_view, "keys"),
    "snap2": (snap2_view, "keys"),
    "snap3": (snap3_view, "keys"),
    "snapshot_chain": (snapshot_chain_view, None),
    "open_keys": (open_keys_view, "keys"),
    "deleted_keys": (deleted_keys_view, "keys"),
    "multipart_uploads": (multipart_uploads_view, "keys"),
    "user_volumes": (user_volumes_view, "keys"),
    "trash_entries": (trash_entries_view, "keys"),
    "acl_entries": (acl_entries_view, None),
    "tenant_access": (tenant_access_view, "customer"),
    "sst_catalog": (sst_catalog_view, None),
    "compaction_edges": (compaction_edges_view, None),
    "sst_snapshot_files": (sst_snapshot_files_view, None),
    "pipelines": (pipelines_view, None),
    "delegation_tokens": (delegation_tokens_view, None),
}

VIEW_NAMES: tuple[str, ...] = (*DRIVER_TABLES, *_DERIVED)


class NamespaceViews(Mapping[str, DataFrame]):
    """The driver tables and derived namespace views of one session and
    data dir, by name.  An entry is built on first access and then
    memoized; an entry named in `resident` is persisted right after it
    is built.  `in`, `len`, iteration and `keys()` build nothing;
    `values()` and `items()` build each entry as they reach it."""

    def __init__(self, spark: SparkSession, sf_dir: str,
                 resident: Iterable[str] = ()):
        self.spark = spark
        self.sf_dir = sf_dir
        self.resident = frozenset(resident)
        self._built: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._built:
            if name in _DERIVED:
                build, src = _DERIVED[name]
                df = build(self.spark if src is None else self[src])
            elif name in DRIVER_TABLES:
                df = load_table(self.spark, self.sf_dir, name)
            else:
                raise KeyError(name)
            if name in self.resident:
                df.persist()
            self._built[name] = df
        return self._built[name]

    def __contains__(self, name: object) -> bool:
        return name in VIEW_NAMES

    def __iter__(self) -> Iterator[str]:
        return iter(VIEW_NAMES)

    def __len__(self) -> int:
        return len(VIEW_NAMES)

    def built(self) -> tuple[str, ...]:
        """Names of the entries built so far, in build order."""
        return tuple(self._built)


def namespace_views(spark: SparkSession, sf_dir: str) -> NamespaceViews:
    """All driver tables + derived namespace views, by name; each is
    read or derived on first access (see NamespaceViews)."""
    return NamespaceViews(spark, sf_dir)
