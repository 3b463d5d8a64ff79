"""Key-space listing operators (SURVEY.md §2.1 S1/S2/S6, §2.5 O1/O2, §2.3 J1).

Reference semantics:
  - list_keys: OmMetadataManagerImpl.java:1070-1205 — seek-to-prefix range
    scan, ORDER BY db_key, fetch maxKeys+1 to derive isTruncated, skip the
    startKey itself (pagination resume token).
  - list_objects_v2: s3gateway BucketEndpoint.java:95-230 — delimiter
    grouping into CommonPrefixes + Contents, continuation token = last
    returned name (ContinueToken).

Scale notes: the prefix predicate is a sargable range on the sort key —
with keys stored sorted/partitioned by db_key, Parquet min/max row-group
stats prune everything outside the prefix (the Spark analog of RocksDB
seekKey).  orderBy+limit compiles to TakeOrderedAndProject (per-partition
top-K + driver merge), so no global sort materializes at 100 TB.

`list_keys` and `list_objects_v2` are bound-parameter SQL templates
(`session.bound_sql`), and every paged listing here shares the one
page-contract fragment, `page_sql`.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ozone_spark import session
from ozone_spark.functions.dedup import bounded_window_key


def page_sql(select: str, order: str) -> str:
    """The reference's shared pagination contract (S1) as one SQL
    fragment over `select`, a query whose rows are ordered by `order`:
    fetch :max_rows + 1 rows, derive is_truncated from the overflow row,
    return the first :max_rows.  ORDER BY + LIMIT compiles to
    TakeOrderedAndProject, so the window only ever sees <= :max_rows + 1
    rows: bounded by construction.  Both window functions share one
    spec, so they run in one Window operator over one sort; the
    partition key is `bounded_window_key` (a literal key would be folded
    out of the spec, and WindowExec would warn on every page)."""
    spec = (f"PARTITION BY pmod(xxhash64({order.split(',')[0]}), 1) "
            f"ORDER BY {order}")
    return f"""SELECT * EXCEPT (_rn) FROM (
  SELECT *, row_number() OVER ({spec}) AS _rn,
    count(*) OVER ({spec} ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING) > :max_rows AS is_truncated
  FROM ({select} ORDER BY {order} LIMIT :max_rows + 1))
WHERE _rn <= :max_rows"""


# an omitted parameter is '' and its predicate folds away: `(:p = '' OR
# pred)` is constant-folded to TRUE or to `pred` once :p is bound
_LIST_KEYS = page_sql("""SELECT db_key, object_id, data_size, creation_time, owner
  FROM {keys}
  WHERE (:prefix = '' OR startswith(db_key, :prefix))
    AND (:start_key = '' OR db_key > :start_key)""", "db_key")


def list_keys(
    keys: DataFrame,
    prefix: str = "",
    start_key: str = "",
    max_keys: int = 1000,
) -> DataFrame:
    """S1: one page of the key listing, with the reference's pagination
    contract (maxKeys+1 fetch -> is_truncated; startKey excluded)."""
    return session.bound_sql(_LIST_KEYS, {"keys": keys},
                             prefix=prefix or "", start_key=start_key or "",
                             max_rows=max_keys)


def _paged(df: DataFrame, order_cols: list[str], max_rows: int) -> DataFrame:
    """`page_sql` over a built frame, ordered by `order_cols`.  The
    frame is built for this one page, so its view lives for the call."""
    return session.bound_sql(
        page_sql("SELECT * FROM {page}", ", ".join(order_cols)),
        {"page": df}, once=True, max_rows=max_rows)


def list_multipart_uploads(
    multipart_uploads: DataFrame,
    volume: str | None = None,
    bucket: str | None = None,
    prefix: str = "",
    key_marker: str = "",
    max_uploads: int = 1000,
) -> DataFrame:
    """S5-as-listing: paginated in-flight multipart uploads with the S1
    token contract (maxUploads+1 -> is_truncated, key_marker exclusive).
    Reference: KeyManagerImpl.java:1114 (listMultipartUploads) /
    OmClientProtocol.proto:132; S3 ListMultipartUploads orders by key
    then upload id."""
    page = multipart_uploads
    if volume:
        page = page.where(F.col("volume") == volume)
    if bucket:
        page = page.where(F.col("bucket") == bucket)
    if prefix:
        page = page.where(F.col("key_name").startswith(prefix))
    if key_marker:
        page = page.where(F.col("db_key") > key_marker)
    page = page.select("upload_id", "db_key", "volume", "bucket",
                       "key_name", "owner", "initiated_ms", "n_parts")
    return _paged(page, ["db_key", "upload_id"], max_uploads)


def list_open_files(
    open_keys: DataFrame,
    path_prefix: str = "",
    start_key: str = "",
    max_keys: int = 1000,
) -> DataFrame:
    """S5-as-listing: paginated open-files scan under a path prefix with
    the S1 token contract.  Reference: KeyManagerImpl.java:1154
    (listOpenFiles) / OmClientProtocol.proto:151 — returns the open
    keys with their client/lease info, seek-to-prefix + contToken."""
    page = open_keys
    if path_prefix:
        page = page.where(F.col("db_key").startswith(path_prefix))
    if start_key:
        page = page.where(F.col("db_key") > start_key)
    page = page.select("db_key", "object_id", "client_id", "hsync",
                       "data_size", "creation_time")
    return _paged(page, ["db_key"], max_keys)


def list_parts(
    locations: DataFrame,
    object_id: int,
    part_marker: int = 0,
    max_parts: int = 1000,
) -> DataFrame:
    """S5: paginated parts of one multipart upload (KeyManagerImpl
    listParts / S3 ListParts: partNumberMarker exclusive, maxParts+1 ->
    is_truncated).  Part etags follow the multipart_etag convention
    (md5 of the block's local id).

    Part numbers must be UNIQUE within an upload (the reference keys
    its partKeyInfoMap by part number), but the fixture's block_seq can
    tie (two blocks of one object sharing a seq), which would make the
    page cut and marker resume nondeterministic.  So the part number is
    densely re-derived as row_number over (block_seq, local_id) — a
    total order — before the marker filter.  The unpartitioned window
    is bounded by construction: it runs over the blocks of ONE object
    (the reference caps an upload at 10,000 parts)."""
    page = (
        locations.where(F.col("object_id") == object_id)
        .select(
            F.row_number()
            .over(Window.partitionBy(bounded_window_key("local_id"))
                  .orderBy("block_seq", "local_id"))
            .alias("part_number"),
            F.md5(F.col("local_id").cast("string")).alias("etag"),
            F.col("block_len").alias("part_size"))
        .where(F.col("part_number") > part_marker)
    )
    return _paged(page, ["part_number"], max_parts)


def recon_list_keys(
    keys: DataFrame,
    replication_type: str = "",
    created_after_ms: int = 0,
    min_size: int = 0,
    start_prefix: str = "/",
    prev_key: str = "",
    max_keys: int = 1000,
) -> DataFrame:
    """Recon's filtered key listing (/keys/listKeys,
    OMDBInsightEndpoint.java listKeysWithFilters: replicationType /
    creationDate / keySize / startPrefix / prevKey / limit) with the S1
    token contract.  All filters are scan-pushable predicates; the
    replication type is derived from the replication factor (the
    fixture's factor-2 keys model EC, others RATIS — OmKeyInfo's
    ReplicationConfig discriminator).

    Same endpoint family as scan.key_search (S8); the time/size bounds
    are INCLUSIVE (>=) in both so the two surfaces never disagree on a
    boundary key — this variant adds the typed replication filter and
    the maxKeys+1/is_truncated page contract."""
    repl_type = F.when(F.col("repl_factor") == 2, "EC").otherwise("RATIS")
    page = keys
    if replication_type:
        page = page.where(repl_type == replication_type)
    if created_after_ms:
        page = page.where(F.col("creation_time") >= created_after_ms)
    if min_size:
        page = page.where(F.col("data_size") >= min_size)
    if start_prefix and start_prefix != "/":
        page = page.where(F.col("db_key").startswith(start_prefix))
    if prev_key:
        page = page.where(F.col("db_key") > prev_key)
    page = page.select(
        "db_key", "object_id", "data_size", "replicated_size",
        repl_type.alias("replication_type"), "creation_time", "owner")
    return _paged(page, ["db_key"], max_keys)


def list_buckets(keys: DataFrame, volume: str | None = None,
                 start_bucket: str = "", max_buckets: int = 1000) -> DataFrame:
    """S2: paginated bucket listing (OmMetadataManagerImpl.java:911-975);
    bucket set derived from the key namespace."""
    b = keys.select("volume", "bucket").distinct()
    if volume:
        b = b.where(F.col("volume") == volume)
    if start_bucket:
        b = b.where(F.col("bucket") > start_bucket)
    return b.orderBy("volume", "bucket").limit(max_buckets)


def encode_continue_token(last_key: str) -> str:
    """Opaque S3 continuation token: hex-encoded last key + '-' +
    truncated md5 digest, so a crafted or corrupted resume point fails
    loudly instead of silently skipping keys.  Semantics of the reference's codec
    (s3gateway util/ContinueToken.java: hex string + digest, verified
    on decode) without copying its exact digest construction."""
    import hashlib
    hex_key = last_key.encode("utf-8").hex()
    digest = hashlib.md5(hex_key.encode("ascii")).hexdigest()[:8]
    return f"{hex_key}-{digest}"


def decode_continue_token(token: str | None) -> str:
    """Inverse of encode_continue_token; raises ValueError on a
    tampered or truncated token (ContinueToken.decodeFromString's
    OS3Exception analog)."""
    import hashlib
    if not token:
        return ""
    hex_key, sep, digest = token.rpartition("-")
    if (not sep
            or hashlib.md5(hex_key.encode("ascii")).hexdigest()[:8] != digest):
        raise ValueError(f"invalid continuation token: {token!r}")
    try:
        return bytes.fromhex(hex_key).decode("utf-8")
    except ValueError as exc:
        raise ValueError(f"invalid continuation token: {token!r}") from exc


# the post-prefix remainder of a key: its first delimiter-terminated
# segment collapses into a CommonPrefix, a key without one is a Content
_LIST_OBJECTS_V2 = page_sql("""SELECT * FROM (
    SELECT entry_type, name, min(data_size) AS data_size FROM (
      SELECT
        CASE WHEN instr(rest, :delimiter) > 0 THEN 'COMMON_PREFIX'
             ELSE 'KEY' END AS entry_type,
        CASE WHEN instr(rest, :delimiter) > 0
             THEN concat(:prefix, substring_index(rest, :delimiter, 1),
                         :delimiter)
             ELSE key_name END AS name,
        CASE WHEN instr(rest, :delimiter) > 0 THEN CAST(NULL AS BIGINT)
             ELSE data_size END AS data_size
      FROM (SELECT key_name, data_size,
              substring(key_name, char_length(:prefix) + 1, 1073741824) AS rest
            FROM {keys}
            WHERE volume = :volume AND bucket = :bucket
              AND startswith(key_name, :prefix)))
    GROUP BY entry_type, name)
  WHERE (:start_after = '' OR name > :start_after)""", "name")


def list_objects_v2(
    keys: DataFrame,
    volume: str,
    bucket: str,
    prefix: str = "",
    delimiter: str = "/",
    start_after: str = "",
    max_keys: int = 1000,
    continuation_token: str | None = None,
) -> DataFrame:
    """S6/J1: S3 ListObjectsV2 — keys whose post-prefix remainder contains
    the delimiter collapse into a CommonPrefix; the rest are Contents.
    Output rows: (entry_type, name, data_size) ordered by name, with the
    is_truncated flag of the maxKeys+1 contract.

    BucketEndpoint.java:187-230; shallow-listing client flag
    OzoneBucket.java:756-759.  An opaque `continuation_token` (from
    encode_continue_token over the previous page's last name) takes
    precedence over `start_after`, matching S3 semantics.
    """
    if continuation_token:
        start_after = decode_continue_token(continuation_token)
    return session.bound_sql(
        _LIST_OBJECTS_V2, {"keys": keys}, volume=volume, bucket=bucket,
        prefix=prefix, delimiter=delimiter, start_after=start_after or "",
        max_rows=max_keys)
