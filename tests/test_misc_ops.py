"""get-log/clear-log, in-place sink."""

from pyspark.sql import functions as F

from xidel_spark.extract.changelog import clear_log, get_log
from xidel_spark.io.inplace import write_inplace


def _log(spark):
    return spark.createDataFrame(
        [("d", "a", 0, "1"), ("d", "b", 1, "2"), ("d", "a", 2, "3"), ("d", "c", 3, "4")],
        "doc_id string, var_name string, seq_index long, value string",
    )


def test_get_and_clear_log(spark):
    # mirrors tests/tests.sh:520 varlogAB shape: clear one var, history stays for others
    log = _log(spark)
    assert [r["value"] for r in get_log(log, "a").collect()] == ["1", "3"]
    cleared = clear_log(log, "c")
    assert {r["var_name"] for r in cleared.collect()} == {"a", "b"}
    assert clear_log(log).count() == 0


def test_inplace_overwrite_of_source(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(10).withColumn("v", F.col("id") * 2).write.parquet(p)
    df = spark.read.parquet(p).where("id < 5")
    write_inplace(df, p)  # overwriting the path we're reading from
    back = spark.read.parquet(p)
    assert back.count() == 5 and back.agg(F.max("id")).collect()[0][0] == 4


def test_crawl_query_determinism(spark):
    """The driver hash-compares values — two runs of the same crawl query
    must produce byte-identical rows."""
    from xidel_spark.queries import q_crawl_dfs_order

    a = sorted(map(tuple, q_crawl_dfs_order(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(tuple, q_crawl_dfs_order(spark, "/root/testdata/sf0.001").collect()))
    assert a == b


def test_guess_extraction_kind():
    from xidel_spark.extract.kinds import guess_kind, normalize_selector

    assert guess_kind("<html><title>{t:=.}</title></html>") == "pattern"
    assert guess_kind("//a/@href") == "xpath"
    assert guess_kind("$x + 1") == "xpath"
    # bare names are XPATH per the reference's own type-selection tests
    # (tests.sh:434 xpath5 '-e a'); css-only markers make it CSS
    assert guess_kind("a") == "xpath"
    assert guess_kind("a[href]") == "css"
    assert guess_kind("div > span.cls") == "css"
    assert guess_kind("count(//a)") == "xpath"
    assert normalize_selector("a") == "//a"
    assert normalize_selector("//title") == "//title"


def test_media_fake_decoder_and_frame_sample(spark):
    """decode/feature-extract/resize/frame-sample legs over the fake
    decoder: real numpy ops on deterministic pixel arrays."""
    import numpy as np

    from xidel_spark.corpus import base_docs
    from xidel_spark.ops.media import (
        decode_image, decode_media, frame_sample, resize_image, synth_media,
    )

    media = synth_media(
        base_docs(spark, "/root/testdata/sf0.001").select("doc_id", "text").limit(20)
    ).cache()
    dec = decode_media(media, decoder="fake", thumb=4).collect()
    assert len(dec) == 20
    for r in dec:
        assert 8 <= r["width"] <= 15 and r["height"] == 16
        assert len(r["thumb"]) == 16
        assert 0 <= r["px_mean"] <= 255 and r["px_std"] >= 0
    # resize is deterministic nearest-neighbor on the decoded array
    blob = media.limit(1).collect()[0]["blob"]
    px = decode_image(bytes(blob), decoder="fake")
    t = resize_image(px, 4, 4)
    ys = (np.arange(4) * px.shape[0] // 4).clip(0, px.shape[0] - 1)
    xs = (np.arange(4) * px.shape[1] // 4).clip(0, px.shape[1] - 1)
    assert t.shape == (4, 4) and (t == px[np.ix_(ys, xs)]).all()
    # frame sampling keeps every 2nd 4-byte frame
    fr = frame_sample(media, frame_bytes=4, every=2).collect()
    per_doc = {}
    for r in fr:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    for idxs in per_doc.values():
        assert sorted(idxs) == [0, 2]  # 16 bytes → 4 frames → sampled 0,2
        assert all(isinstance(i, int) for i in idxs)


def test_media_real_decoder_raises_without_libs():
    import pytest as _pytest

    from xidel_spark.ops.media import decode_image

    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG", decoder="real")


def test_cli_surface():
    """the xidel-style CLI: literal markup + -e expressions with kind
    auto-detection, separators, and stdin — subprocess black-box."""
    import subprocess
    import sys

    def run(*args, stdin=None):
        return subprocess.run(
            [sys.executable, "tools/xidel_spark_cli.py", *args],
            capture_output=True, text=True, cwd="/root/repo", input=stdin,
        ).stdout

    assert run("<a>3</a>", "-e", " 3 + . ") == "6\n"
    assert run(
        '<html><body><a href="x">L</a><a href="y">M</a></body></html>',
        "-e", "//a/@href", "--output-separator", ",",
    ) == "x,y\n"
    assert run("-", "-e", ".", stdin="<a>hi</a>") == "hi\n"
