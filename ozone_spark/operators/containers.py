"""Container-plane operators (SURVEY.md §2.1 S9, §2.3 J3-J6, §2.4 A8, §2.9 B8).

Reference semantics:
  - container→key inverted index: ContainerKeyMapperHelper.java:144-175
    (reprocess) / :239-274 (incremental) — explode each key's block
    locations into (containerId, key) entries.
  - OM↔SCM mismatch: ContainerEndpoint.java:776-777 (anti-joins both
    directions), :916-917 (OM keys referencing SCM-DELETED containers).
  - health classification: ContainerHealthTask.java:54+, states
    ContainerSchemaDefinition.java:120-128 (MISSING / EMPTY_MISSING /
    UNDER/OVER_REPLICATED / REPLICA_MISMATCH).
  - listContainer paging: SCMClientProtocolServer.java:506-531,545-568.
  - checksum scrub: BackgroundContainerDataScanner (B8).

Scale notes: `containers`/`replicas` are small dimension tables next to
the key/location fact tables — every join here broadcasts the dimension
side (no shuffle of the fact table).  The inverted index itself is a
map-side explode + partial-agg groupBy, the same shape the reference
builds with per-thread local maps merged at the end
(ContainerKeyMapperHelper.java:144-175).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import broadcast

from ozone_spark import session


def container_key_index(locations: DataFrame) -> DataFrame:
    """J5: containerId -> (#keys, #blocks, bytes) inverted index."""
    return (
        locations.groupBy("container_id")
        .agg(
            F.countDistinct("object_id").alias("key_count"),
            F.count("*").alias("block_count"),
            F.sum("block_len").alias("total_bytes"),
        )
    )


# the id is bound inside an array literal: generated code references an
# array constant but inlines a bare integer, so `container_id = :id`
# would compile new classes for every id a session has not served
_KEYS_FOR_CONTAINER = """SELECT db_key, object_id, data_size, block_count, bytes
  FROM {keys} JOIN (
    SELECT object_id, count(*) AS block_count, sum(block_len) AS bytes
    FROM {locations}
    WHERE array_contains(array(:container_id), container_id)
    GROUP BY object_id) USING (object_id)
  ORDER BY db_key"""


def keys_for_container(locations: DataFrame, keys: DataFrame,
                       container_id: int) -> DataFrame:
    """J6: /containers/{id}/keys via the index (ContainerEndpoint.java:235-238)."""
    return session.bound_sql(
        _KEYS_FOR_CONTAINER, {"keys": keys, "locations": locations},
        container_id=container_id)


def om_containers_missing_in_scm(locations: DataFrame,
                                 containers: DataFrame) -> DataFrame:
    """J3a: containers OM references but SCM lacks (left-anti)."""
    referenced = locations.select("container_id").distinct()
    return (
        referenced.join(broadcast(containers.select("container_id")),
                        "container_id", "left_anti")
        .orderBy("container_id")
    )


def scm_containers_without_keys(locations: DataFrame,
                                containers: DataFrame) -> DataFrame:
    """J3b: live SCM containers no key references (left-anti, reverse)."""
    referenced = locations.select("container_id").distinct()
    return (
        containers.where(F.col("state") != "DELETED")
        .join(referenced, "container_id", "left_anti")
        .select("container_id", "state")
        .orderBy("container_id")
    )


def om_keys_in_deleted_containers(locations: DataFrame, containers: DataFrame,
                                  keys: DataFrame) -> DataFrame:
    """J4: keys whose blocks live in SCM-DELETED containers (left-semi)."""
    deleted = containers.where(F.col("state") == "DELETED").select("container_id")
    bad_refs = (
        locations.join(broadcast(deleted), "container_id", "left_semi")
        .select("object_id").distinct()
    )
    return (
        keys.join(bad_refs, "object_id", "left_semi")
        .select("db_key", "object_id", "data_size")
        .orderBy("db_key")
    )


def container_health(containers: DataFrame, replicas: DataFrame) -> DataFrame:
    """A8: replica census -> health states; a container can carry several
    states (the reference keeps one table per state).  Emitted as
    (container_id, health_state) rows via a single-pass array build +
    explode — no re-scan per state."""
    census = (
        replicas.groupBy("container_id")
        .agg(
            F.count("*").alias("actual_replicas"),
            F.countDistinct("checksum").alias("n_checksums"),
        )
    )
    j = (
        containers.where(~F.col("state").isin("DELETED", "DELETING"))
        .join(census, "container_id", "left")
        .na.fill({"actual_replicas": 0, "n_checksums": 0})
    )
    actual, expected = F.col("actual_replicas"), F.col("expected_replicas")
    states = F.array(
        F.when((actual == 0) & (F.col("used_bytes") > 0), F.lit("MISSING")),
        F.when((actual == 0) & (F.col("used_bytes") == 0), F.lit("EMPTY_MISSING")),
        F.when((actual > 0) & (actual < expected), F.lit("UNDER_REPLICATED")),
        F.when(actual > expected, F.lit("OVER_REPLICATED")),
        F.when(F.col("n_checksums") > 1, F.lit("REPLICA_MISMATCH")),
    )
    return (
        j.withColumn("health_state",
                     F.explode(F.filter(states, lambda x: x.isNotNull())))
        .select("container_id", "health_state", "actual_replicas", "expected_replicas")
        .orderBy("container_id", "health_state")
    )


def replica_checksum_scrub(replicas: DataFrame) -> DataFrame:
    """B8: scrub — containers whose replicas disagree on data checksum."""
    return (
        replicas.groupBy("container_id")
        .agg(
            F.countDistinct("checksum").alias("n_checksums"),
            F.sum(F.when(F.col("checksum") != "ok", 1).otherwise(0)).alias("bad_replicas"),
        )
        .where(F.col("n_checksums") > 1)
        .select("container_id", "bad_replicas")
        .orderBy("container_id")
    )


def list_containers(containers: DataFrame, state: str | None = None,
                    start_id: int = 0, limit: int = 1000) -> DataFrame:
    """S9: filter -> sorted(containerID) -> limit, plus the *total* match
    count the endpoint returns alongside the page
    (SCMClientProtocolServer.java:545-568)."""
    df = containers
    if state:
        df = df.where(F.col("state") == state)
    df = df.where(F.col("container_id") >= start_id)
    total = df.agg(F.count("*").alias("total_count"))
    page = df.orderBy("container_id").limit(limit)
    return page.crossJoin(broadcast(total))
