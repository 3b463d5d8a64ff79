"""The engine's `file://` Hadoop filesystem (`ozone_spark/jvm`,
`session.LOCAL_FS_CONFS`): file modes set in-process, not by a forked
`chmod`, with the same modes and the same `.crc` checksums as Hadoop's
stock local filesystem; a JVM launched without the jar keeps the stock
one.

Each write runs in a fresh JVM in a subprocess whose PATH starts with a
`chmod` that logs its arguments, so a fork is seen as a log line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from collections import Counter

import pytest

from ozone_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# writes a partitioned parquet and drains a one-batch CDC log into the
# namespace rollup under argv[2]; argv[1] "engine" builds the session
# with get_spark, "plain" launches the JVM with a plain builder first.
# Prints one JSON line: the file.impl conf, the rollup rows and, for
# the engine, the sticky-bit and checksum probes.
WRITER = r'''
import json, os, sys
from pyspark.sql import SparkSession
from ozone_spark.session import get_spark
from ozone_spark.streaming import rollup

mode, out = sys.argv[1], sys.argv[2]
if mode == "plain":
    SparkSession.builder.master("local[1]").config(
        "spark.driver.memory", "1g").config("spark.ui.enabled", "false") \
        .getOrCreate()
spark = get_spark("local-fs", cpus=1)
jvm = spark._jvm
hconf = spark.sparkContext._jsc.hadoopConfiguration()
res = {"impl": hconf.get("fs.file.impl"),
       "conf": spark.conf.get("spark.hadoop.fs.file.impl", None)}

log = spark.createDataFrame(
    [(1, "PUT", "/v/b/a/x", "v", "b", "a/x", 1, 10, 30, 1, 0),
     (2, "PUT", "/v/b/c", "v", "b", "c", 2, 5, 15, 2, 0)],
    "seq long, op string, db_key string, volume string, bucket string,"
    " key_name string, object_id long, data_size long,"
    " replicated_size long, event_time long, chunk int")
log.write.partitionBy("chunk").parquet(f"{out}/cdc")
res["rows"] = sorted(tuple(r) for r in rollup.run_incremental_rollup(
    spark, f"{out}/cdc", f"{out}/ck").collect())

if mode == "engine":
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), hconf)
    res["fs"] = fs.getClass().getName()
    sticky = jvm.org.apache.hadoop.fs.Path(f"{out}/sticky")
    fs.mkdirs(sticky)
    fs.setPermission(sticky, jvm.org.apache.hadoop.fs.permission.FsPermission(
        "1755"))
    res["sticky_mode"] = oct(os.stat(f"{out}/sticky").st_mode & 0o7777)

    part = next(os.path.join(d, f) for d, _, fs_ in os.walk(f"{out}/cdc")
                for f in fs_ if f.endswith(".parquet"))
    with open(part, "r+b") as f:
        f.seek(8)
        b = f.read(1)
        f.seek(8)
        f.write(bytes([b[0] ^ 0xFF]))
    try:
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            fs.open(jvm.org.apache.hadoop.fs.Path(part)),
            jvm.java.io.ByteArrayOutputStream(), 4096, True)
        res["corrupt_read"] = "no error"
    except Exception as e:
        res["corrupt_read"] = e.java_exception.getClass().getName()
spark.stop()
print("RESULT " + json.dumps(res))
'''


def _fake_chmod(d: str) -> str:
    """A `chmod` on PATH that appends its arguments to $CHMOD_LOG."""
    os.makedirs(d)
    path = os.path.join(d, "chmod")
    real = shutil.which("chmod")
    with open(path, "w") as f:
        f.write(f'#!/bin/sh\necho "$@" >> "$CHMOD_LOG"\nexec {real} "$@"\n')
    os.chmod(path, 0o755)
    return d


def _write(mode: str, tmp: str) -> tuple[dict, list[str], str]:
    """Run WRITER in a fresh JVM; (its result, the chmod calls naming a
    path under its output dir, the output dir)."""
    out = os.path.join(tmp, mode)
    chmod_log = os.path.join(tmp, f"{mode}.chmod")
    bindir = os.path.join(tmp, "bin")
    if not os.path.isdir(bindir):
        _fake_chmod(bindir)
    env = dict(os.environ, CHMOD_LOG=chmod_log,
               PATH=bindir + os.pathsep + os.environ["PATH"],
               PYTHONPATH=ROOT, SPARK_DRIVER_MEMORY="1g")
    p = subprocess.run([sys.executable, "-c", WRITER, mode, out], cwd=tmp,
                       env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.split("RESULT ", 1)[1])
    forks = []
    if os.path.exists(chmod_log):
        forks = [ln for ln in open(chmod_log) if out in ln]
    return res, forks, out


def _modes(out: str) -> Counter:
    """(depth, dir?, .crc?, mode) of every entry of the tree: part-file
    and checkpoint names differ between runs, their shape does not."""
    seen = Counter()
    for d, dirs, files in os.walk(out):
        for name in dirs + files:
            p = os.path.join(d, name)
            seen[(os.path.relpath(p, out).count(os.sep), name in dirs,
                  name.endswith(".crc"), oct(os.stat(p).st_mode & 0o7777))] += 1
    return seen


@pytest.fixture(scope="module")
def writes():
    tmp = tempfile.mkdtemp(prefix="ozs_localfs_")
    try:
        yield {m: _write(m, tmp) for m in ("engine", "plain")}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_engine_fs_forks_no_chmod(writes):
    """The engine's session writes a partitioned parquet, a streaming
    checkpoint and a view-store fold without one `chmod` fork; the same
    writes through the stock filesystem fork for each file and dir."""
    res, forks, _ = writes["engine"]
    assert res["impl"] == session.LOCAL_FS_CONFS["fs.file.impl"]
    assert res["fs"] == session.LOCAL_FS_CONFS["fs.file.impl"]
    # the sticky-bit probe below is the one fork, and it is not a write
    assert [f for f in forks if not f.rstrip().endswith("/sticky")] == []
    _, plain_forks, _ = writes["plain"]
    assert len(plain_forks) > 20


def test_engine_fs_writes_stock_modes(writes):
    """Every file and dir the engine's filesystem writes has the mode
    the stock filesystem gives the same write, and the results agree."""
    (engine, _, eout), (plain, _, pout) = writes["engine"], writes["plain"]
    assert engine["rows"] == plain["rows"] and engine["rows"]
    got = _modes(eout)
    got[(0, True, False, engine["sticky_mode"])] -= 1  # the sticky probe
    assert +got == _modes(pout)


def test_engine_fs_keeps_checksums(writes):
    """`.crc` files are still written next to the data, and a flipped
    byte fails the read with a ChecksumException."""
    res, _, out = writes["engine"]
    crcs = [f for _, _, fs in os.walk(f"{out}/cdc") for f in fs
            if f.endswith(".parquet.crc")]
    assert crcs
    assert res["corrupt_read"] == "org.apache.hadoop.fs.ChecksumException"


def test_sticky_bit_takes_the_stock_path(writes):
    """java.nio cannot set the sticky bit, so that setPermission forks
    `chmod` as the stock filesystem does, and the mode is set."""
    res, forks, _ = writes["engine"]
    assert res["sticky_mode"] == "0o1755"
    assert [f.split()[0] for f in forks
            if f.rstrip().endswith("/sticky")] == ["1755"]


def test_jvm_launched_elsewhere_keeps_stock_fs(writes):
    """A JVM launched by a plain builder, without the jar, cannot load
    the engine's filesystem: get_spark leaves `fs.file.impl` unset and
    writes go through Hadoop's stock one."""
    res, forks, _ = writes["plain"]
    assert res["impl"] is None and res["conf"] is None
    assert res["rows"] and forks


def test_committed_jar_matches_sources(tmp_path):
    """tools/build_jvm.py rebuilt into a tmpdir gives the committed
    jar's classes, byte for byte."""
    if shutil.which("javac") is None or shutil.which("jar") is None:
        pytest.skip("no JDK (javac, jar) on PATH")
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import build_jvm
    finally:
        sys.path.pop(0)
    built = build_jvm.build(str(tmp_path / "fs.jar"))

    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist()
                    if n.endswith(".class")}

    want = classes(session.FS_JAR)
    assert want and classes(built) == want
