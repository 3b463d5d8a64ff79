"""The four image codecs behind one media-table kernel and one
channel-feature kernel.

- On Spark, every format's payloads equal its encoder over an
  independently replayed raster, its channel sums match a numpy replay,
  and a repeated media table is a slot-cache hit.
- Every codec function and every `batches` function the kernels hand to
  mapInPandas loads and runs in a Python process where `ozone_spark`
  cannot be imported, as on a worker without the library.  A function
  pickled by reference would fail there.
"""
from __future__ import annotations

import pickle
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark import cloudpickle

from ozone_spark import session, tables
from ozone_spark.functions import dedup, multimodal

FORMATS = ("ppm", "bmp", "png", "jpeg")


def _ramp(min_rows):
    def replay(doc_id, n_chars, w):
        h = max(min_rows, -(-n_chars // (w * 3)))
        flat = (np.arange(w * h * 3, dtype=np.int64) + doc_id) % 256
        return h, flat.astype(np.uint8)
    return replay


def _blocks(doc_id, n_chars, w):
    """Block-constant raster: pixel (y, x, c) of 8x8 block
    bi = (y // 8) * (w // 8) + x // 8 is (doc_id + 3*bi + c) % 256."""
    rows = -(-n_chars // (w * 3))
    h = max(16, -(-rows // 8) * 8)
    y, x, c = np.meshgrid(np.arange(h), np.arange(w), np.arange(3),
                          indexing="ij")
    bi = (y // 8) * (w // 8) + x // 8
    return h, ((doc_id + 3 * bi + c) % 256).astype(np.uint8).reshape(-1)


REPLAY = {"ppm": _ramp(1), "bmp": _ramp(1), "png": _ramp(5),
          "jpeg": _blocks}


def _fresh_slot(spark, slot):
    dedup.release_slots(slot)
    session.state(spark).get("slots", {}).pop(slot, None)


@pytest.mark.parametrize("fmt", FORMATS)
def test_media_table_and_features_spark_path(spark, sf_dir, fmt):
    """Payloads are the real encoder's bytes for the replayed raster;
    features decode them back to the replayed channel sums; a second
    media table over the same docs hits slot
    media_tbl_<fmt>_media_table_<width>."""
    table = getattr(multimodal, f"{fmt}_media_table")
    features = getattr(multimodal, f"{fmt}_features")
    encode = getattr(multimodal, f"encode_{fmt}")
    w = getattr(multimodal, f"{fmt.upper()}_WIDTH")
    slot = f"media_tbl_{fmt}_media_table_{w}"
    _fresh_slot(spark, slot)
    try:
        docs = tables.load_table(spark, sf_dir, "documents").limit(20)
        media = table(docs)
        payloads = {r.doc_id: r for r in media.collect()}
        feats = {r.doc_id: r for r in features(media).collect()}
        rows = docs.select("doc_id", "n_chars").collect()
        assert len(rows) == len(payloads) == len(feats) > 0
        for row in rows:
            h, raster = REPLAY[fmt](row.doc_id, row.n_chars, w)
            p = payloads[row.doc_id]
            assert p.media_type == "image"
            assert bytes(p.payload) == encode(w, h, raster)
            assert p.payload_len == len(p.payload)
            r = feats[row.doc_id]
            assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
            sums = raster.reshape(-1, 3).sum(axis=0, dtype=np.int64)
            assert (r.sum_r, r.sum_g, r.sum_b) == tuple(map(int, sums))
        assert table(docs) is media
        assert dedup.slot_stats(slot) == {slot: (1, 1)}
    finally:
        _fresh_slot(spark, slot)


_WORKER = r'''
import importlib.abc
import pickle
import sys


class _NoOzoneSpark(importlib.abc.MetaPathFinder):
    def find_spec(self, name, path=None, target=None):
        if name.partition(".")[0] == "ozone_spark":
            raise ImportError(f"{name} is not installed on this worker")
        return None


repo, job_path, out_path = sys.argv[1:]
sys.path = [p for p in sys.path if p not in ("", ".", repo)]
sys.meta_path.insert(0, _NoOzoneSpark())
try:
    import ozone_spark  # noqa: F401
    sys.exit("ozone_spark is importable")
except ImportError:
    pass

with open(job_path, "rb") as f:
    job = pickle.load(f)
out, errors = {}, {}
for name, (blob, call) in job.items():
    try:
        fn = pickle.loads(blob)
        if call[0] == "encode":
            out[name] = fn(*call[1:])
        elif call[0] == "decode":
            w, h, arr = fn(call[1])
            out[name] = (w, h, arr.tolist())
        else:
            out[name] = list(fn(iter([call[1]])))
    except Exception as ex:
        errors[name] = f"{type(ex).__name__}: {ex}"
with open(out_path, "wb") as f:
    pickle.dump((out, errors), f)
'''


def _kernel_batches(docs):
    """The functions each public media-table and feature call passes to
    mapInPandas, in call order: (table, features) per format."""
    seen = []
    cls = type(docs)
    real = cls.mapInPandas

    def record(self, func, schema, *args, **kwargs):
        seen.append(func)
        return real(self, func, schema, *args, **kwargs)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(cls, "mapInPandas", record)
        for fmt in FORMATS:
            getattr(multimodal, f"{fmt}_features")(
                getattr(multimodal, f"{fmt}_media_table")(docs))
    assert [f.__name__ for f in seen] == ["batches"] * 2 * len(FORMATS)
    return dict(zip(FORMATS, zip(seen[0::2], seen[1::2])))


def test_codecs_and_kernels_run_without_the_package(spark, sf_dir,
                                                    tmp_path):
    """cloudpickle ships every encode_*/decode_* and every kernel
    `batches` closure by value: each loads in a process that cannot
    import ozone_spark and gives the rows it gives in process."""
    docs = tables.load_table(spark, sf_dir, "documents").limit(3)
    try:
        batches = _kernel_batches(docs)
    finally:
        for fmt in FORMATS:
            w = getattr(multimodal, f"{fmt.upper()}_WIDTH")
            _fresh_slot(spark, f"media_tbl_{fmt}_media_table_{w}")
    ids = pd.DataFrame({"doc_id": np.array([0, 7, 300], dtype=np.int64),
                        "n_chars": np.array([1, 95, 700], dtype=np.int64)})
    job, local = {}, {}
    for fmt in FORMATS:
        encode = getattr(multimodal, f"encode_{fmt}")
        decode = getattr(multimodal, f"decode_{fmt}")
        raster = (np.arange(16 * 8 * 3, dtype=np.int64) * 37 + 11) % 256
        payload = encode(16, 8, raster)
        w, h, arr = decode(payload)
        table_fn, feature_fn = batches[fmt]
        media = list(table_fn(iter([ids])))
        calls = {
            f"encode_{fmt}": (encode, ("encode", 16, 8, raster), payload),
            f"decode_{fmt}": (decode, ("decode", payload),
                              (w, h, arr.tolist())),
            f"{fmt}_media_table.batches": (table_fn, ("batches", ids), media),
            f"{fmt}_features.batches": (
                feature_fn, ("batches", pd.concat(media)),
                list(feature_fn(iter([pd.concat(media)])))),
        }
        for name, (fn, call, result) in calls.items():
            job[name] = (cloudpickle.dumps(fn), call)
            local[name] = result
    job_path, out_path = tmp_path / "job.pkl", tmp_path / "out.pkl"
    job_path.write_bytes(pickle.dumps(job))
    repo = str(Path(multimodal.__file__).resolve().parents[2])
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER, repo, str(job_path), str(out_path)],
        cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    remote, errors = pickle.loads(out_path.read_bytes())
    assert errors == {}
    assert remote.keys() == local.keys()
    for name, want in local.items():
        got = remote[name]
        if name.endswith(".batches"):
            assert len(got) == len(want), name
            for g, x in zip(got, want):
                pd.testing.assert_frame_equal(g, x, obj=name)
        else:
            assert got == want, name
