"""Source-layer specs: object-store config translation (offline — mirrors
ballista/core/src/object_store.rs S3Options), partition pruning proof
for the listing-table scan (SURVEY §2.2 rows 7, 11), and the file-source
mechanism's reads and commit protocol (sources/datasource.py)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from datafusion_ballista_spark.session import BallistaSession
from datafusion_ballista_spark.sources.arrow_ipc import ArrowIpcDataSource
from datafusion_ballista_spark.sources.avro_datasource import AvroOcfDataSource
from datafusion_ballista_spark.sources.datasource import _FileWriter, register
from datafusion_ballista_spark.sources.object_store import (
    http_conf,
    normalize_url,
    register_http,
    s3_conf,
)


def test_s3_conf_global_keys():
    conf = s3_conf(
        access_key_id="AK", secret_access_key="SK", region="us-east-1",
        endpoint="http://minio:9000",
    )
    assert conf == {
        "fs.s3a.access.key": "AK",
        "fs.s3a.secret.key": "SK",
        "fs.s3a.endpoint.region": "us-east-1",
        "fs.s3a.endpoint": "http://minio:9000",
    }


def test_s3_conf_per_bucket_and_http():
    conf = s3_conf("mybucket", allow_http=True, access_key_id="AK")
    assert conf["fs.s3a.bucket.mybucket.access.key"] == "AK"
    assert conf["fs.s3a.bucket.mybucket.connection.ssl.enabled"] == "false"
    assert conf["fs.s3a.bucket.mybucket.path.style.access"] == "true"


def test_s3_conf_rejects_unknown_option():
    with pytest.raises(ValueError, match="unknown S3 option"):
        s3_conf(access_keey="typo")


def test_http_conf_translation():
    """HttpBuilder parity (object_store.rs:151-157): http/https URLs get a
    store with allow_http forced on; the strict variant drops plain http."""
    assert http_conf() == {
        "fs.http.impl": "org.apache.hadoop.fs.http.HttpFileSystem",
        "fs.https.impl": "org.apache.hadoop.fs.http.HttpsFileSystem",
    }
    assert http_conf(allow_http=False) == {
        "fs.https.impl": "org.apache.hadoop.fs.http.HttpsFileSystem",
    }


def test_register_http_wires_live_hadoop_conf(spark):
    """Offline proof the plumbing is real: the confs land in the live
    Hadoop configuration AND the impl classes actually ship in Spark's
    bundled hadoop-client (a typo'd class name would only fail at first
    read otherwise — the container has no network to catch it)."""
    register_http(spark)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for key, cls in http_conf().items():
        assert hconf.get(key) == cls
        # Class.forName raises if the impl is not on Spark's classpath
        spark.sparkContext._jvm.java.lang.Class.forName(cls)


def test_normalize_url():
    assert normalize_url("s3://bucket/path/x.parquet") == "s3a://bucket/path/x.parquet"
    assert normalize_url("s3a://bucket/x") == "s3a://bucket/x"
    assert normalize_url("/local/path") == "/local/path"
    assert normalize_url("hdfs://nn/x") == "hdfs://nn/x"


def test_partitioned_listing_prunes(spark):
    """The l_year = 1997 filter must land in PartitionFilters (directory
    pruning), not as a post-scan data filter."""
    from datafusion_ballista_spark.inventory.io_ops import scan_partitioned_listing
    from tests.conftest import SF_DIR

    df = scan_partitioned_listing(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert "l_year" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketBy(8, custkey): the co-located join must read
    matching buckets directly — no shuffle exchange anywhere in the join
    subtree (the point of paying the bucketing shuffle at write time)."""
    from datafusion_ballista_spark.inventory.io_ops import (
        bucketed_colocated_join,
    )
    from tests.conftest import SF_DIR

    df = bucketed_colocated_join(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    lines = plan.splitlines()
    starts = [i for i, l in enumerate(lines) if "SortMergeJoin" in l]
    assert starts, plan
    # exchanges may exist ABOVE the join (final groupBy); the subtree BELOW
    # the join (deeper indentation) must be exchange-free
    i = starts[0]
    depth = len(lines[i]) - len(lines[i].lstrip(" +-:*"))
    below = []
    for l in lines[i + 1:]:
        if l.strip() and len(l) - len(l.lstrip(" +-:*")) <= depth:
            break
        below.append(l)
    assert not any("Exchange" in l for l in below), plan


def test_write_arrow_ipc_dist_roundtrip(spark, tmp_path):
    import pyarrow.ipc as ipc

    register(spark)
    df = spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(5, "id")
    out = str(tmp_path / "ipc_out")
    df.write.format("arrow_ipc").mode("overwrite").save(out)
    names = os.listdir(out)
    assert 1 <= len(names) <= 5
    # every file is a valid IPC *file*-format stream, no torn temps left
    assert all(n.endswith(".arrow") for n in names), names
    for n in names:
        with ipc.open_file(os.path.join(out, n)) as r:
            assert r.num_record_batches >= 1
    back = spark.read.format("arrow_ipc").load(out)
    assert back.count() == 1000
    assert back.agg({"v": "sum"}).collect()[0][0] == sum(2 * i for i in range(1000))


def _raises_on_last_row(spark):
    """Two tasks of 15k rows: one finishes its file, the other raises on
    its last row, after its first Arrow batch reached the writer."""
    return spark.range(30000).repartition(2).select(
        F.when(F.col("id") == 29999, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )


@pytest.mark.parametrize("fmt", ["arrow_ipc", "avro_ocf"])
def test_failed_overwrite_keeps_previous_files(spark, tmp_path, fmt):
    """An overwrite whose task raises leaves the directory as it was: the
    old files stay readable, and neither the finished task's file nor a
    temporary file of the failed one is left behind."""
    register(spark)
    out = str(tmp_path / fmt)
    spark.range(10).write.format(fmt).mode("overwrite").save(out)
    before = sorted(os.listdir(out))
    with pytest.raises(Exception, match="boom"):
        _raises_on_last_row(spark).write.format(fmt).mode("overwrite").save(out)
    assert sorted(os.listdir(out)) == before
    assert sorted(r.id for r in spark.read.format(fmt).load(out).collect()) == list(
        range(10)
    )


def _no_abort(source):
    """``source`` with a writer whose ``abort`` does nothing, registered
    as ``<format>_no_abort``. The classes are made inside a function so
    that the Python workers receive them by value: this test module is
    not importable there."""

    class Writer(_FileWriter):
        def abort(self, messages):
            pass  # leave the directory as the tasks left it

    class NoAbort(source):
        @classmethod
        def name(cls) -> str:
            return source.name() + "_no_abort"

        def writer(self, schema, overwrite):
            return Writer(self, schema, overwrite)

    return NoAbort


@pytest.mark.parametrize("fmt", ["arrow_ipc", "avro_ocf"])
def test_failed_write_publishes_no_part_file(spark, tmp_path, fmt):
    """A task's file takes its readable ``part-`` name only at commit: a
    write that fails leaves none, neither the finished task's file nor
    the failed task's partial one, even when ``abort`` never cleans up."""
    for source in (ArrowIpcDataSource, AvroOcfDataSource):
        spark.dataSource.register(_no_abort(source))
    out = str(tmp_path / fmt)
    with pytest.raises(Exception, match="boom"):
        _raises_on_last_row(spark).write.format(f"{fmt}_no_abort").mode(
            "overwrite"
        ).save(out)
    assert [n for n in os.listdir(out) if n.startswith("part-")] == []


@pytest.mark.parametrize("fmt", ["arrow_ipc", "avro_ocf"])
def test_two_appends_both_survive(spark, tmp_path, fmt):
    """Each write names its files with its own write id, so a second
    append's part-00000 does not replace the first's."""
    register(spark)
    out = str(tmp_path / fmt)
    spark.range(0, 6, numPartitions=2).write.format(fmt).mode("append").save(out)
    spark.range(6, 12, numPartitions=2).write.format(fmt).mode("append").save(out)
    assert len(os.listdir(out)) == 4
    back = spark.read.format(fmt).load(out)
    assert sorted(r.id for r in back.collect()) == list(range(12))


def test_read_arrow_stream_file_directory_and_glob(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.ipc as ipc

    tbl = pa.table({"id": [1, 2, 3], "s": ["a", None, "c"]})
    with ipc.new_file(str(tmp_path / "a.arrow"), tbl.schema) as w:
        w.write_table(tbl.slice(0, 2))
    with ipc.new_stream(str(tmp_path / "b.arrow"), tbl.schema) as w:
        w.write_table(tbl.slice(2))
    bs = BallistaSession(spark)

    def rows(path):
        return sorted((r.id, r.s) for r in bs.read_arrow(path).collect())

    assert rows(str(tmp_path / "b.arrow")) == [(3, "c")]
    assert rows(str(tmp_path)) == [(1, "a"), (2, None), (3, "c")]
    assert rows(str(tmp_path / "*.arrow")) == [(1, "a"), (2, None), (3, "c")]
    assert bs.read_arrow(str(tmp_path)).rdd.getNumPartitions() == 2  # one task per file


def test_read_arrow_empty_directory_names_the_path(spark, tmp_path):
    with pytest.raises(Exception, match=re.escape(f"no .arrow files at '{tmp_path}'")):
        BallistaSession(spark).read_arrow(str(tmp_path))


class TestWavCodec:
    """The audio path uses a REAL codec (stdlib wave): the container must
    be a valid RIFF/WAVE file whose parsed header — not carried metadata —
    yields the format fields, and PCM samples must round-trip bit-exactly."""

    def test_wav_roundtrip_parses_real_header(self, spark):
        import io
        import wave

        from datafusion_ballista_spark.multimodal import attach_wav

        df = spark.createDataFrame(
            [(1, "abc xyz"), (2, "q")], "doc_id bigint, text string"
        )
        rows = {r.doc_id: bytes(r.wav) for r in attach_wav(df).collect()}
        blob = rows[1]
        assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
        with wave.open(io.BytesIO(blob), "rb") as w:
            assert w.getframerate() == 16_000
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2
            assert w.getnframes() == len("abc xyz")
            raw = w.readframes(w.getnframes())
        import numpy as np

        samples = np.frombuffer(raw, dtype="<i2")
        expect = (
            np.frombuffer(b"abc xyz", dtype=np.uint8).astype(np.int16) - 128
        ) * 256
        assert (samples == expect).all()

    def test_decode_stats_from_container(self, spark):
        from datafusion_ballista_spark.multimodal import (
            attach_wav,
            decode_wav_stats,
        )

        df = spark.createDataFrame([(7, "AA")], "doc_id bigint, text string")
        out = decode_wav_stats(attach_wav(df)).collect()[0]
        # 'A' = 65 -> sample (65-128)*256 = -16128; RMS of two equal samples
        assert out.sample_rate == 16_000
        assert out.n_channels == 1
        assert out.n_samples == 2
        assert out.rms_amp == 16128.0

    def test_corrupt_wav_yields_null_row_not_task_abort(self, spark):
        """Same docs/SCALE.md contract for the audio decoder."""
        from datafusion_ballista_spark.multimodal import (
            attach_wav,
            decode_wav_stats,
        )

        good = attach_wav(
            spark.createDataFrame([(1, "AA")], "doc_id bigint, text string")
        ).collect()[0].wav
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, bytearray(b"RIFFjunk" * 8)), (3, None)],
            "doc_id bigint, wav binary",
        )
        out = {r.doc_id: r for r in decode_wav_stats(df).collect()}
        assert out[1].n_samples == 2 and out[1].rms_amp == 16128.0
        assert out[2].sample_rate is None and out[2].n_samples is None
        assert out[3].sample_rate is None


class TestBmpCodec:
    """The image path uses a REAL codec (stdlib struct): the container
    must be a valid 24-bpp BMP whose parsed headers — not carried
    metadata — yield the dimensions, and grayscale pixels must round-trip
    bit-exactly, including through the resize's second codec cycle."""

    def test_encode_decode_roundtrip(self):
        from datafusion_ballista_spark.multimodal import (
            decode_bmp,
            encode_bmp_gray,
        )

        gray = bytes(range(32))  # 16x2 image
        blob = encode_bmp_gray(gray)
        assert blob[:2] == b"BM"
        assert len(blob) == 54 + 48 * 2
        import struct

        file_size = struct.unpack("<I", blob[2:6])[0]
        assert file_size == len(blob)
        w, h, back = decode_bmp(blob)
        assert (w, h) == (16, 2)
        assert back == gray  # bit-exact through the BGR pixel array

    def test_decode_rejects_non_bmp(self):
        import pytest as _pytest

        from datafusion_ballista_spark.multimodal import decode_bmp

        for bad in (b"", b"JUNKJUNKJUNK" * 10, b"BM" + b"\x00" * 20):
            with _pytest.raises(ValueError):
                decode_bmp(bad)

    def test_attach_featurize_header_decoded(self, spark):
        from datafusion_ballista_spark.multimodal import attach_bmp, featurize

        df = spark.createDataFrame(
            [(1, "A" * 20), (2, ""), (3, "zz")], "doc_id bigint, text string"
        )
        out = {r.doc_id: r for r in featurize(attach_bmp(df)).collect()}
        # doc 1: 20 bytes -> 16x2 padded grid, sum = 20*65
        assert (out[1].width, out[1].height) == (16, 2)
        assert out[1].n_bytes == 54 + 48 * 2
        assert out[1].px_sum == 20 * 65
        assert out[1].px_sum_sq == 20 * 65 * 65
        assert out[1].mean_lum == (20 * 65) / 32
        # doc 2: empty -> height-0 container, NULL mean
        assert (out[2].width, out[2].height, out[2].px_sum) == (16, 0, 0)
        assert out[2].mean_lum is None
        # doc 3: 'zz' = 2 bytes of 122
        assert (out[3].height, out[3].px_sum) == (1, 244)

    def test_resize_two_codec_cycles(self, spark):
        from datafusion_ballista_spark.multimodal import attach_bmp, resize

        # 48 ASCII bytes -> 16x3; subsample keeps rows 0,2 cols 0,2..14 ->
        # 8x2; re-encoded container 54 + 24*2
        df = spark.createDataFrame(
            [(1, "".join(chr(i) for i in range(48)))],
            "doc_id bigint, text string",
        )
        r = resize(attach_bmp(df)).collect()[0]
        assert (r.new_w, r.new_h) == (8, 2)
        assert r.out_bytes == 54 + 24 * 2
        kept = [j for j in range(48) if j % 2 == 0 and (j // 16) % 2 == 0]
        assert r.new_px_sum == sum(kept)
        assert r.new_mean_lum == sum(kept) / 16

    def test_corrupt_payload_yields_null_row_not_task_abort(self, spark):
        """docs/SCALE.md contract: at 100 TB a corrupt media payload must
        degrade to a NULL feature row, never abort the task."""
        from pyspark.sql import functions as F

        from datafusion_ballista_spark.multimodal import (
            encode_bmp_gray,
            featurize,
            resize,
        )

        good = encode_bmp_gray(bytes(range(16)))
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, bytearray(b"JUNK" * 20)), (3, None)],
            "doc_id bigint, bmp binary",
        )
        feats = {r.doc_id: r for r in featurize(df).collect()}
        assert feats[1].width == 16 and feats[1].px_sum == sum(range(16))
        assert feats[2].width is None and feats[2].px_sum is None
        assert feats[2].n_bytes == 80  # length still reported
        assert feats[3].width is None
        rs = {r.doc_id: r for r in resize(df).collect()}
        assert rs[1].new_w == 8
        assert rs[2].new_w is None and rs[3].out_bytes is None
