"""Driver and Spark transports of `build_index` write the same index.

A small build batch runs the `build` generator on the driver and writes
its files with pyarrow; `builder._LOCAL_MAX_DOCS = 0` pins the Spark
write. For every case both transports must give the same manifest
records and checkpoints (timings and the transport masked), the same
inv and docs partition directories with the same rows and schemas as
read by Spark and by pyarrow, recorded docs read schemas equal to
Spark's inference over the files, the same hits from both search
transports, and the same `run_merges` output. A small build runs two
Spark jobs (the size probe, then the collect) and no Python stage; a
large one ships only row sizes to the driver; a crash between the
driver write and the commit leaves one copy of the batch after the
rerun.
"""

import datetime as dt
import glob
import json
import os
import time
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quickwit_spark.api import QuickwitSpark
from quickwit_spark.index import builder
from quickwit_spark.index import manifest as mf
from quickwit_spark.index.builder import (
    _INV_COLUMNS,
    FieldConfig,
    IndexConfig,
    build_index,
)
from quickwit_spark.index.merge import MergePolicy, run_merges
from quickwit_spark.search.engine import IndexSearcher

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
WORDS = [f"w{i}" for i in range(12)]
LANGS = ("de", "en", "fr")
SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("big", T.DecimalType(20, 0)),
        T.StructField("flag", T.BooleanType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("seen", T.TimestampType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _frame(spark, lo: int, hi: int):
    """Docs [lo, hi): stored decimal, boolean, binary and timestamp
    columns, null `seen` values, and null time-column values (those docs
    are dropped at ingest)."""
    rows = [
        (
            i,
            f"u/{i:04d}",
            f"t{i % 5} {WORDS[i % 12]}",
            " ".join(WORDS[(i * j + j) % 12] for j in range(1, 3 + i % 7)),
            LANGS[i % 3],
            Decimal(2**63 + i),
            i % 3 == 0,
            bytes([i % 256, 0, 255]),
            None if i % 4 == 0 else EPOCH + dt.timedelta(hours=i),
            None if i % 9 == 0 else EPOCH + dt.timedelta(minutes=i),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _config(doc_key: str = "doc_id", stored=("url",)) -> IndexConfig:
    return IndexConfig(
        fields=[
            FieldConfig("title"),
            FieldConfig("body", record="position"),
            FieldConfig("all", sources=("title", "body", "lang")),
            FieldConfig("lang", tokenizer="raw"),
        ],
        doc_key=doc_key,
        num_partitions=2,
        stored_columns=(*stored, "lang", "big", "flag", "blob", "seen"),
        time_column="ts",
        tag_fields=("lang",),
    )


def _rich(spark, root):
    d = f"{root}/idx"
    build_index(spark, _frame(spark, 0, 60), d, _config(), job_id="a")
    build_index(spark, _frame(spark, 60, 120), d, _config(), job_id="b")
    return d, None


def _string_key(spark, root):
    d = f"{root}/idx"
    cfg = _config(doc_key="url", stored=())
    build_index(spark, _frame(spark, 0, 50), d, cfg, job_id="a")
    build_index(spark, _frame(spark, 50, 100), d, cfg, job_id="b")
    return d, None


def _empty(spark, root):
    d = f"{root}/idx"
    build_index(spark, _frame(spark, 0, 10).filter(F.lit(False)), d, _config())
    return d, None


def _batches(spark, root):
    """num_batches=2: batch 0 commits and the job fails; the rerun skips
    it and builds batch 1."""
    d = f"{root}/idx"
    cfg = _config()
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, _frame(spark, 0, 60), d, cfg, job_id="a",
                    num_batches=2, fail_after_batch=0)
    assert list(mf.committed_checkpoints(d)) == ["a-b0000"]
    build_index(spark, _frame(spark, 0, 60), d, cfg, job_id="a", num_batches=2)
    build_index(spark, _frame(spark, 60, 120), d, cfg, job_id="b", num_batches=2)
    assert sorted(mf.committed_checkpoints(d)) == [
        "a-b0000", "a-b0001", "b-b0000", "b-b0001",
    ]
    return d, None


def _docs(lo: int, hi: int) -> list[dict]:
    return [
        {
            "msg": " ".join(WORDS[(i * j + j) % 12] for j in range(1, 3 + i % 7)),
            "ts": (EPOCH + dt.timedelta(hours=i)).isoformat().replace("+00:00", "Z"),
            "n": i,
            "user": {"name": f"u{i % 7}"},
        }
        for i in range(lo, hi)
    ]


def _mapping(n_type: str) -> list[dict]:
    return [
        {"name": "msg", "type": "text", "record": "position"},
        {"name": "ts", "type": "datetime", "fast": True},
        {"name": "n", "type": n_type, "fast": True},
    ]


def _dynamic(spark, root):
    qw = QuickwitSpark(spark, root)
    qw.create_index(
        {
            "index_id": "dyn",
            "doc_mapping": {
                "mode": "dynamic",
                "timestamp_field": "ts",
                "dynamic_mapping": {"tokenizer": "default", "record": "position",
                                    "fast": True},
                "field_mappings": [{"name": "ts", "type": "datetime", "fast": True}],
            },
        }
    )
    qw.ingest("dyn", _docs(0, 40))
    # a later batch brings a new dynamic field
    qw.ingest("dyn", [{**d, "extra": d["n"] % 4} for d in _docs(40, 80)])
    return qw.index_dir("dyn"), (qw, "dyn")


def _generations(spark, root):
    qw = QuickwitSpark(spark, root)
    cfg = {
        "index_id": "gens",
        "doc_mapping": {
            "mode": "dynamic",
            "timestamp_field": "ts",
            "field_mappings": _mapping("u64"),
        },
    }
    qw.create_index(cfg)
    qw.ingest("gens", _docs(0, 40))
    qw.ingest("gens", _docs(40, 80))
    # u64 → text is a non-additive update: a new doc-mapping generation
    cfg["doc_mapping"]["field_mappings"] = _mapping("text")
    qw.update_index("gens", cfg)
    qw.ingest("gens", _docs(80, 120))
    return qw.index_dir("gens"), (qw, "gens")


def _match(field, text, op="or"):
    return {"match": {field: {"query": text, "operator": op}}}


def _bodies(text: str, source: list[str], extra: dict) -> dict:
    def body(q):
        return {"query": q, "size": 6, "_source": source}

    return {
        "or": body(_match(text, "w1 w3")),
        "and": body(_match(text, "w2 w4", "and")),
        "phrase": body({"match_phrase": {text: "w2 w4"}}),
        "range": body({"bool": {"must": [_match(text, "w5 w7")],
                                "filter": [{"range": {"ts": {
                                    "gte": "2024-01-01T10:00:00Z",
                                    "lt": "2024-01-03T00:00:00Z"}}}]}}),
        **{k: body(q) for k, q in extra.items()},
    }


SOURCE = ["url", "lang", "big", "flag", "blob", "seen"]
IDX_BODIES = _bodies("body", SOURCE, {
    "tag": {"bool": {"must": [{"term": {"lang": "de"}}, _match("body", "w1")]}},
    "concat": _match("all", "t1 fr"),
})
QW_BODIES = _bodies("msg", ["msg", "ts", "n", "user.name"], {})

CASES = {
    "rich": (_rich, IDX_BODIES),
    "string_key": (_string_key, IDX_BODIES),
    "empty": (_empty, {}),
    "batches": (_batches, IDX_BODIES),
    "dynamic": (_dynamic, QW_BODIES),
    "generations": (_generations, QW_BODIES),
}


# ---------------------------------------------------------- snapshots


def _mask(v):
    """kind=seg rows carry the segment's build time in their meta JSON."""
    if isinstance(v, str) and v.startswith("{") and '"build_secs"' in v:
        m = json.loads(v)
        m.pop("build_secs")
        return json.dumps(m, sort_keys=True)
    return bytes(v) if isinstance(v, bytearray) else v


def _timing(key: str) -> bool:
    return key.endswith("_secs") or key.endswith("docs_per_sec")


def _manifest(d: str) -> tuple:
    records = [
        {**vars(r), "metrics": {k: v for k, v in r.metrics.items() if not _timing(k)},
         "create_timestamp": 0, "update_timestamp": 0}
        for r in mf.reconcile(d).values()
    ]
    cps = {
        kind: {
            b: {k: v for k, v in cp.items() if not _timing(k) and k != "transport"}
            for b, cp in mf.committed_checkpoints(d, kind).items()
        }
        for kind in ("build", "merge")
    }
    return sorted(records, key=lambda r: r["segment_id"]), cps


def _partition_dirs(d: str) -> dict[str, list[str]]:
    """{partition dir relative to the index: its parquet files} under
    inv/ and the docs datasets (glob skips the hidden temp dirs)."""
    out: dict[str, list[str]] = {}
    for top in ("inv", "docs*"):
        for f in glob.glob(f"{d}/{top}/**/*.parquet", recursive=True):
            out.setdefault(os.path.relpath(os.path.dirname(f), d), []).append(f)
    return out


def _sorted_rows(rows) -> list:
    return sorted((tuple(_mask(v) for v in r) for r in rows), key=repr)


def _files(spark, d: str) -> dict:
    """Per partition dir: its pyarrow schema and rows and its Spark
    schema, each read of the dir alone."""
    out = {}
    for rel, files in _partition_dirs(d).items():
        tables = [pq.read_table(f) for f in files]
        schema = tables[0].schema.remove_metadata()
        assert all(t.schema.remove_metadata() == schema for t in tables), rel
        rows = _sorted_rows(tuple(r.values()) for t in tables for r in t.to_pylist())
        out[rel] = (schema, rows, spark.read.parquet(f"{d}/{rel}").schema.simpleString())
    return out


def _recorded(d: str, uid: int = 0) -> dict:
    return {f.name: f.dataType for f in builder.load_docs_schema(d, uid).fields}


def _datasets(spark, d: str) -> dict:
    """Rows of the whole inv dataset (its fixed columns and partition
    columns) and of each docs dataset, read by Spark's schema inference
    over every file. Each docs generation's recorded read schema names
    the columns and types that inference gives."""
    out = {}
    if glob.glob(f"{d}/inv/*/*/*.parquet"):
        inv = spark.read.parquet(f"{d}/inv")
        out["inv"] = _sorted_rows(inv.select(*_INV_COLUMNS, "batch_id", "kind").collect())
    for top in sorted(glob.glob(f"{d}/docs*")):
        if not glob.glob(f"{top}/*/*.parquet"):
            continue
        docs = spark.read.option("mergeSchema", "true").parquet(top)
        uid = int(top.rsplit("docs_uid", 1)[1]) if "docs_uid" in top else 0
        inferred = {
            f.name: f.dataType for f in docs.schema.fields
            if f.name == "segment_id" or f.name not in _INV_COLUMNS
        }
        assert _recorded(d, uid) == inferred, top
        out[os.path.basename(top)] = (
            docs.schema.simpleString(),
            _sorted_rows(docs.select(sorted(docs.columns)).collect()),
        )
    return out


def _answers(s: IndexSearcher, bodies: dict) -> dict:
    out = {}
    for name, body in bodies.items():
        res, resolved, counts = s._es_search(dict(body), driver_rows=True)
        out[name] = (res["hits"], counts, s.count(None, _resolved=resolved))
    return out


def _hits(spark, d: str, qw, bodies: dict, monkeypatch, both: bool) -> dict:
    """Hits of `bodies` on the driver search transport and, with `both`,
    on the Spark one, which must agree."""
    if not bodies:
        return {}
    s = qw[0].searcher(qw[1]) if qw else IndexSearcher(spark, d)
    driver = _answers(s, bodies)
    if both:
        with monkeypatch.context() as m:
            m.setattr(IndexSearcher, "_LOCAL_MAX_DOCS", 0)
            assert _answers(s, bodies) == driver
    assert any(hits for hits, _c, _n in driver.values())
    return driver


def _snapshot(spark, d, qw, bodies, monkeypatch, both=True) -> dict:
    return {
        "manifest": _manifest(d),
        "files": _files(spark, d),
        "datasets": _datasets(spark, d),
        "hits": _hits(spark, d, qw, bodies, monkeypatch, both),
    }


def _transports(d: str) -> set:
    return {cp["transport"] for cp in mf.committed_checkpoints(d).values()}


@pytest.mark.parametrize("case", sorted(CASES))
def test_build_transport_parity(spark, tmp_path, monkeypatch, case):
    build, bodies = CASES[case]
    d_local, qw_local = build(spark, str(tmp_path / "driver"))
    with monkeypatch.context() as m:
        m.setattr(builder, "_LOCAL_MAX_DOCS", 0)
        d_spark, qw_spark = build(spark, str(tmp_path / "spark"))
    assert _transports(d_local) == {"driver"}
    assert _transports(d_spark) == {"spark"}
    if case == "empty":
        # no docs file to infer from: the record holds the input's types
        assert _recorded(d_local) == _recorded(d_spark) == {
            "segment_id": T.StringType(), "doc_id": T.IntegerType(),
            "doc_key": T.LongType(), "url": T.StringType(),
            **{f.name: f.dataType for f in SCHEMA.fields
               if f.name in ("lang", "big", "flag", "blob", "seen", "ts")},
            "batch_id": T.StringType(),
        }
    for stage in ("built", "merged"):
        # the Spark search transport's agreement is checked once
        both = stage == "built"
        a = _snapshot(spark, d_local, qw_local, bodies, monkeypatch, both)
        b = _snapshot(spark, d_spark, qw_spark, bodies, monkeypatch, both)
        assert a["manifest"] == b["manifest"], stage
        assert a["files"].keys() == b["files"].keys(), stage
        for rel in a["files"]:
            assert a["files"][rel] == b["files"][rel], (stage, rel)
        assert a["datasets"] == b["datasets"], stage
        assert a["hits"] == b["hits"], stage
        if stage == "built":
            policy = MergePolicy(merge_factor=2, max_merge_factor=4,
                                 min_level_num_docs=10)
            merged = [run_merges(spark, d, policy) for d in (d_local, d_spark)]
            assert [r.segment_id for r in merged[0]] == [r.segment_id for r in merged[1]]
            assert bool(merged[0]) == (case != "empty")


def test_mixed_transport_merge(spark, tmp_path, monkeypatch):
    """Segments of both transports in one index merge into the same
    segments as an all-Spark index."""
    cfg = _config()

    def build(root, pin_first: bool, pin_second: bool):
        d = f"{root}/idx"
        for job, (lo, hi), pin in (("a", (0, 60), pin_first), ("b", (60, 120), pin_second)):
            with monkeypatch.context() as m:
                if pin:
                    m.setattr(builder, "_LOCAL_MAX_DOCS", 0)
                build_index(spark, _frame(spark, lo, hi), d, cfg, job_id=job)
        return d

    mixed = build(str(tmp_path / "mixed"), False, True)
    spark_only = build(str(tmp_path / "spark"), True, True)
    assert _transports(mixed) == {"driver", "spark"}
    policy = MergePolicy(merge_factor=2, max_merge_factor=4, min_level_num_docs=10)
    for d in (mixed, spark_only):
        assert run_merges(spark, d, policy)
    a = _snapshot(spark, mixed, None, IDX_BODIES, monkeypatch)
    b = _snapshot(spark, spark_only, None, IDX_BODIES, monkeypatch)
    assert a == b


# ---------------------------------------------------------- jobs, crash

_PYTHON_NODES = ("InPandas", "InArrow", "ArrowEvalPython", "BatchEvalPython")


def _job_plans(spark, group: str) -> dict[int, str]:
    """{job id: physical plan of its SQL execution} for every Spark job
    of `group`, found by StatusTracker and the SQL status store."""
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    store = spark._jsparkSession.sharedState().statusStore()
    plans: dict[int, str] = {}
    deadline = time.time() + 20
    while time.time() < deadline:
        execs = store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            for j in jobs:
                if e.jobs().contains(j):
                    plans[j] = e.physicalPlanDescription()
        if len(plans) == len(jobs):
            break
        time.sleep(0.2)
    assert len(plans) == len(jobs), "SQL executions not reported"
    return plans


def _grouped_build(spark, group: str, df, d: str) -> dict[int, str]:
    sc = spark.sparkContext
    sc.setJobGroup(group, "one build_index")
    try:
        build_index(spark, df, d, _config())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return _job_plans(spark, group)


def _collects(plans: dict[int, str]) -> list[str]:
    """The probe plans among a group's jobs: the size probe projects
    the row sizes (octet_length), the collect ships the rows."""
    return [
        "sizes" if "octet_length" in p else "rows"
        for _, p in sorted(plans.items())
        if "CollectLimit" in p
    ]


def test_small_build_runs_only_the_probe_jobs(spark, tmp_path):
    df = _frame(spark, 0, 40)
    df.count()  # the input frame's own first-use work stays outside
    plans = _grouped_build(spark, "build-driver", df, str(tmp_path / "idx"))
    assert len(plans) == 2, plans
    assert _collects(plans) == ["sizes", "rows"], plans
    assert not any(n in p for p in plans.values() for n in _PYTHON_NODES), plans
    assert _transports(str(tmp_path / "idx")) == {"driver"}


def test_large_batch_takes_the_spark_transport(spark, tmp_path, monkeypatch):
    # 40 docs in 2 pids: above a 10-doc threshold
    monkeypatch.setattr(builder, "_LOCAL_MAX_DOCS", 10)
    d = str(tmp_path / "idx")
    plans = _grouped_build(spark, "build-spark", _frame(spark, 0, 40), d)
    assert any("InArrow" in p for p in plans.values()), plans
    assert _collects(plans) == ["sizes"], plans  # the rows never ship
    cp = mf.committed_checkpoints(d)["job0-b0000"]
    assert cp["transport"] == "spark"
    assert set(cp["stage_secs"]) == {"probe", "build_write", "read_meta"}
    assert IndexSearcher(spark, d).count("*") == 35  # 5 null-ts docs dropped


def test_bytes_bound_takes_the_spark_transport(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(builder, "_LOCAL_MAX_BYTES", 100)
    d = str(tmp_path / "idx")
    plans = _grouped_build(spark, "build-bytes", _frame(spark, 0, 20), d)
    assert _collects(plans) == ["sizes"], plans  # the rows never ship
    assert _transports(d) == {"spark"}


def test_probe_size_estimate_tracks_arrow_bytes(spark):
    """The size probe's per-row estimate is within 2x of the Arrow bytes
    the collect would ship, so the bytes bound means what it says."""
    df = _frame(spark, 0, 200).withColumn("tags", F.array("lang", "url"))
    size = sum((builder._arrow_bytes(f) for f in df.schema.fields), F.lit(0))
    est = df.select(F.sum(size)).first()[0]
    actual = df.toArrow().nbytes
    assert actual / 2 <= est <= actual * 2, (est, actual)


def test_probe_over_max_result_size_takes_the_spark_transport(spark, tmp_path):
    """A probe that overflows spark.driver.maxResultSize (docs too big to
    collect) falls back to the Spark write instead of failing the build."""
    conf = spark.sparkContext._jsc.sc().conf()
    assert not conf.contains("spark.driver.maxResultSize")
    # the probe's ~60 KB of Arrow overflows it; the write tasks' small
    # commit results do not
    conf.set("spark.driver.maxResultSize", "16k")
    d = str(tmp_path / "idx")
    try:
        build_index(spark, _frame(spark, 0, 200), d, _config())
    finally:
        conf.remove("spark.driver.maxResultSize")
    cp = mf.committed_checkpoints(d)["job0-b0000"]
    assert cp["transport"] == "spark" and cp["docs"] == 177


def test_large_source_skips_the_probe(spark, tmp_path, monkeypatch):
    """A source whose size estimate is clearly past the bytes bound goes
    straight to the Spark write: no probe job runs."""
    src = str(tmp_path / "src.parquet")
    _frame(spark, 0, 40).write.parquet(src)
    monkeypatch.setattr(builder, "_LOCAL_MAX_BYTES", 16)
    d = str(tmp_path / "idx")
    plans = _grouped_build(spark, "build-large", spark.read.parquet(src), d)
    assert not any("CollectLimit" in p for p in plans.values()), plans
    cp = mf.committed_checkpoints(d)["job0-b0000"]
    assert cp["transport"] == "spark" and "probe" not in cp["stage_secs"]


def test_driver_checkpoint_stage_timings(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, 0, 20), d, _config())
    cp = mf.committed_checkpoints(d)["job0-b0000"]
    assert cp["transport"] == "driver"
    assert set(cp["stage_secs"]) == {"probe", "build", "write"}
    assert all(v >= 0 for v in cp["stage_secs"].values())
    assert cp["docs"] == 17 and cp["docs_per_sec"] > 0


def test_crash_between_driver_write_and_commit(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "idx")
    df = _frame(spark, 0, 40)
    with monkeypatch.context() as m:
        def crash(*a, **kw):
            raise RuntimeError("crash before commit")

        m.setattr(mf, "commit", crash)
        with pytest.raises(RuntimeError, match="crash before commit"):
            build_index(spark, df, d, _config())
    first = _partition_dirs(d)
    assert first and mf.committed_checkpoints(d) == {}
    # a write that died before its renames leaves a hidden temp dir
    os.makedirs(f"{d}/inv/.tmp-job0-b0000-dead/kind=seg")
    build_index(spark, df, d, _config())
    dirs = _partition_dirs(d)
    assert dirs.keys() == first.keys()
    assert all(len(files) == 1 for files in dirs.values()), dirs
    # the rerun's files replaced the crashed run's
    assert all(
        os.path.basename(dirs[k][0]) != os.path.basename(first[k][0]) for k in dirs
    )
    assert not glob.glob(f"{d}/inv/.tmp-*") and not glob.glob(f"{d}/docs/.tmp-*")
    assert IndexSearcher(spark, d).count("*") == 35
