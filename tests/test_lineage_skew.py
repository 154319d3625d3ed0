"""Resume/lineage tests (SURVEY §5 item 5: kill-and-resume equals single
run), skew salting equivalence, streaming daily micro-batch."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pyofs_spark.lineage import read_output, run_partitioned
from pyofs_spark.operators.skew import (
    cell_histogram,
    explode_salts_for_join,
    hot_cells,
    salt_hot_cells,
    salted_cell_counts,
)
from pyofs_spark.plans.pipeline import assign_cells, geocode_pages
from pyofs_spark.synth import synth_pages


def _unchanged(key: str) -> str:
    """The fingerprint of a partition whose inputs never change."""
    return "v1"


def _build(spark, key: str):
    n = int(key.split("_")[1])
    return geocode_pages(synth_pages(spark, 200, 4)).filter(
        F.pmod("page_id", F.lit(4)) == n
    ).select("page_id", "url", "lon", "lat")


def test_resume_equals_single_run(spark):
    keys = [f"bucket_{i}" for i in range(4)]
    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        # full run
        r1 = run_partitioned(spark, d1, keys, _build, _unchanged)
        assert r1["ran"] == keys and r1["skipped"] == []
        full = {tuple(r) for r in read_output(spark, d1).select("page_id", "lon").collect()}

        # interrupted run: only first 2 partitions complete, then "crash"
        r2a = run_partitioned(spark, d2, keys[:2], _build, _unchanged)
        assert r2a["ran"] == keys[:2]
        # simulate orphan data without lineage (crash mid-partition 3)
        _build(spark, keys[2]).write.mode("overwrite").parquet(
            os.path.join(d2, f"part_key={keys[2]}")
        )
        # resume with the full key list
        r2b = run_partitioned(spark, d2, keys, _build, _unchanged)
        assert r2b["skipped"] == keys[:2]
        assert r2b["ran"] == keys[2:]  # orphan partition re-ran (no lineage row)
        resumed = {tuple(r) for r in read_output(spark, d2).select("page_id", "lon").collect()}
        assert resumed == full

        # idempotent re-run does nothing
        r3 = run_partitioned(spark, d2, keys, _build, _unchanged)
        assert r3["ran"] == [] and r3["skipped"] == keys
        # metrics present per partition
        assert set(r3["lineage"]) == set(keys)
        assert all(v["n_rows"] == 50 for v in r3["lineage"].values())
    finally:
        shutil.rmtree(d1), shutil.rmtree(d2)


def test_fingerprint_invalidation(spark):
    keys = ["bucket_0"]
    d = tempfile.mkdtemp()
    try:
        run_partitioned(spark, d, keys, _build, fingerprint=lambda k: "v1")
        r = run_partitioned(spark, d, keys, _build, fingerprint=lambda k: "v2")
        assert r["ran"] == keys  # changed input fingerprint → recompute
    finally:
        shutil.rmtree(d)


def test_cli_tile_assign_reruns_when_its_arguments_change(spark, tmp_path, capsys):
    """The CLI's bucket fingerprint covers the arguments that shape the
    output: an unchanged re-run skips every bucket, another --k re-runs
    every bucket and replaces its output."""
    from pyofs_spark import cli

    out = str(tmp_path / "tiles")

    def run(k: int) -> str:
        cli.main(["tile-assign", "--n-pages", "200", "--buckets", "2", "--k", str(k), "--out", out])
        return capsys.readouterr().out.strip().splitlines()[-1]

    assert "ran=2 skipped=0" in run(3)
    assert "ran=0 skipped=2" in run(3)
    assert "ran=2 skipped=0" in run(2)
    sizes = read_output(spark, out).selectExpr("size(knn_stations) AS n").distinct().collect()
    assert [r.n for r in sizes] == [2]


def test_cli_tile_assign_keeps_pages_with_a_null_page_id(spark, tmp_path, capsys):
    """A --input page whose page_id is NULL lands in bucket 0, as
    tile_assignment keeps it: every input page is one output row."""
    from pyofs_spark import cli
    from pyofs_spark.synth import synth_pages

    pages = str(tmp_path / "pages")
    synth_pages(spark, 100, 2).selectExpr(
        "* EXCEPT (page_id)", "IF(page_id % 10 = 3, NULL, page_id) AS page_id"
    ).write.parquet(pages)
    out = str(tmp_path / "tiles")
    cli.main(["tile-assign", "--input", pages, "--buckets", "3", "--out", out])
    assert "ran=3 skipped=0" in capsys.readouterr().out
    got = read_output(spark, out)
    assert got.count() == 100
    assert got.where("page_id IS NULL").count() == 10


def test_cli_refuses_fewer_buckets_than_committed(spark, tmp_path, capsys):
    """A run with fewer --buckets than the committed ones exits before any
    write, naming the buckets it could not remove; the committed output
    is unchanged and a same-arguments re-run still skips every bucket."""
    from pyofs_spark import cli

    out = str(tmp_path / "tiles")

    def run(buckets: int) -> None:
        cli.main(["tile-assign", "--n-pages", "300", "--buckets", str(buckets), "--out", out])

    def rows():
        return sorted(r.j for r in read_output(spark, out).selectExpr("to_json(struct(*)) AS j").collect())

    run(3)
    before = rows()
    assert len(before) == 300
    capsys.readouterr()
    with pytest.raises(SystemExit) as e:
        run(2)
    assert e.value.code != 0
    err = capsys.readouterr().err
    assert "bucket_2" in err and "bucket_1" not in err and "fresh --out" in err
    assert rows() == before
    run(3)
    assert "ran=0 skipped=3" in capsys.readouterr().out


def test_arrow_payload_reads_like_spark_payload(spark, tmp_path):
    """A pyarrow Table payload (written by pyarrow) and the same rows as a
    DataFrame payload (written by Spark) read back with the same schema
    and rows; an Arrow re-run replaces a Spark-written partition."""
    table = pa.table({
        "query_id": pa.array([0, 1, 2], pa.int64()),
        "value": [1.5, None, float("nan")],
        "polygon_id": ["a", None, "b"],
    })
    builds = {
        "arrow": lambda s, k: table,
        "spark": lambda s, k: s.createDataFrame(table),
    }
    out = {}
    for kind, build in builds.items():
        root = str(tmp_path / kind)
        r = run_partitioned(spark, root, ["k1", "k2"], build, _unchanged)
        assert {k: v["n_rows"] for k, v in r["lineage"].items()} == {"k1": 3, "k2": 3}
        out[kind] = read_output(spark, root)
    assert out["arrow"].schema == out["spark"].schema

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    assert rows(out["arrow"]) == rows(out["spark"])

    root = str(tmp_path / "spark")
    r = run_partitioned(spark, root, ["k1"], builds["arrow"], fingerprint=lambda k: "v2")
    assert r["ran"] == ["k1"]
    assert os.listdir(os.path.join(root, "part_key=k1")) == ["part-00000.parquet"]
    assert rows(read_output(spark, root)) == rows(out["arrow"])


def test_skew_histogram_and_salting(spark):
    pages = assign_cells(geocode_pages(synth_pages(spark, 5000, 8)), res=6)
    hist = cell_histogram(pages).collect()
    direct = {r.cell_id: r.cell_count for r in hist}
    # coast bias must create hot cells (≈40% mass in ≈6 clusters)
    hot = hot_cells(pages).collect()
    assert 1 <= len(hot) <= 50
    hot_mass = sum(r.cell_count for r in hot)
    assert hot_mass > 0.25 * 5000

    # salted two-phase counts equal direct counts exactly
    salted = {r.cell_id: r.cell_count for r in salted_cell_counts(pages, "page_id").collect()}
    assert salted == direct

    # salt distribution: hot cells spread across >1 salt, cold cells salt=0
    hotdf = hot_cells(pages)
    sal = salt_hot_cells(pages, hotdf, "page_id")
    hot_ids = {r.cell_id for r in hot}
    per_salt = sal.filter(F.col("cell_id").isin(hot_ids)).groupBy("salt").count().collect()
    assert len(per_salt) > 4
    cold = sal.filter(~F.col("cell_id").isin(hot_ids)).select("salt").distinct().collect()
    assert [r.salt for r in cold] == [0]

    # salted join equivalence: fact ⋈ dim on cell == salted fact ⋈ exploded dim
    dim = pages.select("cell_id").distinct().withColumn(
        "dim_tag", F.col("cell_id") % 97
    )
    plain = pages.join(dim, "cell_id").select("page_id", "dim_tag")
    dim_salted = explode_salts_for_join(dim, hotdf)
    salted_join = sal.join(dim_salted, ["cell_id", "salt"]).select("page_id", "dim_tag")
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in salted_join.collect()}
    assert a == b


def test_streaming_daily_counts(spark):
    """Structured-Streaming daily micro-batch == the equivalent batch agg;
    a page with a NULL key counts under a NULL cell_id, not cell 0."""
    import tempfile as tf

    from pyofs_spark.streaming.daily import daily_tile_counts_stream

    pages = synth_pages(spark, 2000, 4).select("page_id", "warc_ts")
    pages = pages.unionByName(pages.limit(1).withColumn("page_id", F.lit(None).cast("long")))
    src_dir = tf.mkdtemp()
    try:
        pages.write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        ).parquet(src_dir)
        out = daily_tile_counts_stream(stream, res=6)
        q = (
            out.writeStream.format("memory")
            .queryName("daily_counts")
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r.day_start, r.cell_id): r.n_pages
            for r in spark.sql("SELECT * FROM daily_counts").collect()
        }
        batch = daily_tile_counts_stream(spark.read.parquet(src_dir), res=6)
        expect = {(r.day_start, r.cell_id): r.n_pages for r in batch.collect()}
        assert got == expect and len(got) > 100
        for counts in (got, expect):
            assert sorted(n for (_, cell), n in counts.items() if cell is None) == [1]
            assert all(cell != 0 for _, cell in counts)
    finally:
        shutil.rmtree(src_dir)


def test_manifest_snapshot_isolation(spark):
    """Readers resolve partitions through the current manifest snapshot:
    orphan data from a crashed, uncommitted partition is invisible until
    its commit lands (Iceberg-style snapshot isolation)."""
    from pyofs_spark.lineage import Manifest

    keys = [f"bucket_{i}" for i in range(2)]
    d = tempfile.mkdtemp()
    try:
        run_partitioned(spark, d, keys, _build, _unchanged)
        n_before = read_output(spark, d).count()
        m = Manifest(d)
        assert m.current()["version"] == 2  # one snapshot per commit
        # crash leaves orphan data for an uncommitted partition
        _build(spark, "bucket_3").write.mode("overwrite").parquet(
            os.path.join(d, "part_key=bucket_3")
        )
        assert read_output(spark, d).count() == n_before  # not visible
        run_partitioned(spark, d, keys + ["bucket_3"], _build, _unchanged)
        assert read_output(spark, d).count() == n_before + 50
        assert m.current()["version"] == 3
        # history retained for time travel: v1..v3 all on disk
        assert all(
            os.path.exists(os.path.join(d, "_manifest", f"v{v}.json"))
            for v in (1, 2, 3)
        )
    finally:
        shutil.rmtree(d)


def test_streaming_dedup_first_seen(spark):
    """applyInPandasWithState streaming dedup: every key emitted exactly
    once; single-batch canonical == batch-mode min(doc_id) (dedup_exact
    twin); a second pass over more files re-emits nothing."""
    import tempfile as tf

    from pyofs_spark.streaming.dedup import streaming_dedup_first_seen

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.md5(F.substring("text", 1, 40)).alias("norm_key"),
                F.col("doc_id"))
    )
    src = tf.mkdtemp()
    chk = tf.mkdtemp()
    try:
        docs.filter("doc_id < 250").coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        out = streaming_dedup_first_seen(stream)
        q = (out.writeStream.format("memory").queryName("sd")
             .option("checkpointLocation", chk).outputMode("append").start())
        q.processAllAvailable()
        got1 = {r.norm_key: (r.canonical_id, r.n_rows)
                for r in spark.sql("SELECT * FROM sd").collect()}
        expect1 = {r.norm_key: (r.canonical_id, r.n_rows)
                   for r in docs.filter("doc_id < 250")
                   .groupBy("norm_key")
                   .agg(F.min("doc_id").alias("canonical_id"),
                        F.count("*").alias("n_rows")).collect()}
        assert got1 == expect1  # single batch == batch dedup_exact shape
        # second micro-batch: already-seen keys must NOT re-emit
        docs.filter("doc_id >= 250").coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("SELECT * FROM sd").collect()
        keys = [r.norm_key for r in rows]
        assert len(keys) == len(set(keys))  # exactly one emission per key
        assert set(keys) == {r.norm_key for r in docs.select("norm_key").distinct().collect()}
    finally:
        shutil.rmtree(src), shutil.rmtree(chk)


def test_manifest_commit_cost_flat_at_1e4_partitions():
    """Manifest-list indirection (round 3): committing the 10,000th
    partition costs the same order as committing the 100th — one bucket
    manifest (~P/n_buckets entries) + one snapshot file (n_buckets names),
    never a full O(P) partition-map rewrite."""
    from pyofs_spark.lineage import Manifest

    d = tempfile.mkdtemp()
    try:
        m = Manifest(d, n_buckets=128)
        costs = {}
        for i in range(10_000):
            m.commit(f"bucket_{i}", {"n_rows": i, "path": f"part_key=bucket_{i}"})
            if i in (99, 999, 9_999):
                costs[i] = m.last_commit_bytes
        # resolution still exact
        cur = m.current()
        assert cur["version"] == 10_000
        assert len(cur["partitions"]) == 10_000
        assert cur["partitions"]["bucket_1234"]["n_rows"] == 1234
        # flat cost: the 10,000th commit is within 4x of the 100th and far
        # below a full-map rewrite (10^4 entries ~ 700 KB at these sizes)
        assert costs[9_999] < 4 * max(costs[99], 4096)
        assert costs[9_999] < 64_000
    finally:
        shutil.rmtree(d)


def test_manifest_expire_snapshots():
    """expire_snapshots keeps the last-N window resolvable, removes older
    version files and unreferenced bucket manifests, and never breaks the
    current snapshot."""
    from pyofs_spark.lineage import Manifest

    d = tempfile.mkdtemp()
    try:
        m = Manifest(d, n_buckets=8)
        for i in range(200):
            m.commit(f"p_{i}", {"n_rows": i})
        before = len(os.listdir(m.dir))
        removed = m.expire_snapshots(keep_last=5)
        after = len(os.listdir(m.dir))
        assert removed > 0 and after < before
        # current still resolves fully
        cur = m.current()
        assert cur["version"] == 200 and len(cur["partitions"]) == 200
        # retained window still time-travels
        old = m._read("v198.json")
        assert len(m.resolve(old)) == 198
        # commits continue cleanly after gc
        m.commit("p_next", {"n_rows": 1})
        assert len(m.current()["partitions"]) == 201
    finally:
        shutil.rmtree(d)


def test_manifest_rejects_legacy_inline_format():
    """A current.json without the manifest list (the inline partition map
    of old outputs) raises on read and on commit instead of resolving to
    an empty snapshot."""
    import json as _json

    from pyofs_spark.lineage import Manifest

    d = tempfile.mkdtemp()
    try:
        mdir = os.path.join(d, "_manifest")
        os.makedirs(mdir)
        legacy = {
            "version": 2,
            "parent_version": 1,
            "partitions": {
                "a": {"input_fingerprint": "a", "n_rows": 10, "path": "part_key=a"},
            },
        }
        with open(os.path.join(mdir, "current.json"), "w") as fh:
            _json.dump(legacy, fh)
        m = Manifest(d)
        with pytest.raises(ValueError, match="manifests"):
            m.current()
        with pytest.raises(ValueError, match="manifests"):
            m.commit("c", {"input_fingerprint": "c", "n_rows": 5, "path": "part_key=c"})
        assert sorted(os.listdir(mdir)) == ["current.json"]
    finally:
        shutil.rmtree(d)


def test_read_output_hides_first_uncommitted_partition(spark, monkeypatch):
    """A crash in the very first commit leaves data on disk and a manifest
    with no partition: read_output raises instead of globbing the
    uncommitted rows; on a fresh root it raises and creates nothing; and a
    resume equals a clean run."""
    from pyofs_spark.lineage import Manifest

    table = pa.table({"query_id": pa.array([0, 1, 2], pa.int64())})
    keys = ["k1", "k2"]

    def crash(self, part_key, entry, max_retries=0):
        raise RuntimeError(f"crash committing {part_key}")

    d, clean = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        monkeypatch.setattr(Manifest, "commit", crash)
        with pytest.raises(RuntimeError, match="k1"):
            run_partitioned(spark, d, keys, lambda s, k: table, _unchanged)
        monkeypatch.undo()
        assert os.listdir(os.path.join(d, "part_key=k1")) == ["part-00000.parquet"]
        assert Manifest(d).current() == {"version": 0, "partitions": {}}
        with pytest.raises(FileNotFoundError):
            read_output(spark, d)
        with pytest.raises(FileNotFoundError):
            read_output(spark, clean)
        assert os.listdir(clean) == []  # a reader creates nothing

        assert run_partitioned(spark, d, keys, lambda s, k: table, _unchanged)["ran"] == keys
        run_partitioned(spark, clean, keys, lambda s, k: table, _unchanged)

        def rows(root):
            return sorted(tuple(r) for r in read_output(spark, root).collect())

        assert rows(d) == rows(clean) and len(rows(d)) == 6
    finally:
        shutil.rmtree(d), shutil.rmtree(clean)
