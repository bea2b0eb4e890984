"""Source/sink surface tests: excel normalization, partitioned JDBC reader
construction, parquet/csv sink round trips, catalog registration."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from full_data_infrastructure_spark.schemas import EMPLOYEES
from full_data_infrastructure_spark.sources.excel import (
    FRENCH_COLUMN_MAP,
    normalize_hr_frame,
)
from full_data_infrastructure_spark.sources.jdbc import jdbc_reader
from full_data_infrastructure_spark.sources.parquet import (
    load_table,
    register_temp_views,
)
from full_data_infrastructure_spark.sources.sinks import (
    register_table,
    write_append,
    write_csv,
    write_overwrite,
)


def test_normalize_hr_frame(spark):
    pdf = pd.DataFrame(
        {
            "Matricule": [1, 2],
            "Prénom": ["Ada", "Alan"],
            "Nom": ["L", "T"],
            "Date de naissance": [dt.date(1990, 1, 1), dt.date(1985, 6, 2)],
            "Date d'embauche": [dt.date(2020, 1, 1), dt.date(2019, 3, 4)],
            "BU": ["Marketing", "IT"],
            "Salaire brut": [50000, 60000],
            "Type de contrat": ["CDI", "CDD"],
            "Adresse du domicile": ["1 rue A", "2 rue B"],
            "Moyen de déplacement domicile-travail": ["Marche/running", "Voiture"],
            "Nombre de jours de congés payés": [25, 27],
        }
    )
    df = normalize_hr_frame(spark, pdf)
    assert [f.name for f in df.schema.fields] == [f.name for f in EMPLOYEES.fields]
    row = df.orderBy("id_employee").first()
    assert row["first_name"] == "Ada" and row["gross_salary"] == 50000
    assert df.schema["gross_salary"].dataType.simpleString() == "int"
    assert df.schema["birthday"].dataType.simpleString() == "date"


def test_normalize_hr_frame_missing_column(spark):
    with pytest.raises(ValueError, match="missing columns"):
        normalize_hr_frame(spark, pd.DataFrame({"Matricule": [1]}))


def test_jdbc_reader_builds_partitioned(spark):
    reader = jdbc_reader(
        spark,
        url="jdbc:postgresql://db:5432/sport",
        table="sport_advantages.employees",
        user="u",
        password="p",
        partition_column="id_employee",
        lower_bound=1,
        upper_bound=100000,
        num_partitions=32,
    )
    assert reader is not None  # construction is lazy; no connection yet


def test_jdbc_reader_requires_bounds(spark):
    with pytest.raises(ValueError, match="bounds"):
        jdbc_reader(
            spark,
            url="jdbc:postgresql://db:5432/sport",
            table="t",
            user="u",
            password="p",
            partition_column="id",
        )


def test_write_overwrite_partitioned_roundtrip(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = str(tmp_path / "orders_pq")
    write_overwrite(orders, path, fmt="parquet", partition_by=("order_month",))
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # partition pruning: a month filter must prune input files
    months = [r[0] for r in orders.select("order_month").distinct().collect()]
    one = back.filter(F.col("order_month") == months[0])
    n_one = one.count()
    n_orders = orders.count()
    assert n_one > 0
    # materialize the month slice before appending — the append mutates the
    # path `one` lazily reads from
    slice_rows = spark.createDataFrame(one.collect(), one.schema)
    write_append(slice_rows, path, fmt="parquet", partition_by=("order_month",))
    assert spark.read.parquet(path).count() == n_orders + n_one


def test_write_csv_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    write_csv(nation, path)
    back = spark.read.option("header", "true").csv(path)
    assert back.count() == nation.count()


def test_register_table_and_views(spark, sf_dir, tmp_path):
    path = str(tmp_path / "reg_pq")
    write_overwrite(load_table(spark, sf_dir, "region"), path, fmt="parquet")
    register_table(spark, "region_registered", path, fmt="parquet")
    assert spark.sql("SELECT COUNT(*) n FROM region_registered").first()["n"] == 5
    spark.sql("DROP TABLE region_registered")

    register_temp_views(spark, sf_dir, ("region", "nation"))
    joined = spark.sql(
        "SELECT r.r_name, COUNT(*) n FROM nation n "
        "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name"
    )
    assert joined.count() == 5


def test_register_table_quotes_name_and_path(spark, sf_dir, tmp_path):
    """A quote in the location and a reserved word as the table name reach
    the catalog as data; unquoted, either is a parse error."""
    path = str(tmp_path / "o'brien reg")
    write_overwrite(load_table(spark, sf_dir, "region"), path, fmt="parquet")
    register_table(spark, "order", path, fmt="parquet")
    try:
        assert spark.sql("SELECT COUNT(*) n FROM `order`").first()["n"] == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS `order`")


def test_compact_reduces_file_count(spark, sf_dir, tmp_path):
    from full_data_infrastructure_spark.sources.sinks import compact

    path = str(tmp_path / "fragmented")
    orders = load_table(spark, sf_dir, "orders")
    # simulate micro-batch accretion: many tiny files
    orders.repartition(40).write.mode("overwrite").parquet(path)
    import os

    before = sum(f.endswith(".parquet") for f in os.listdir(path))
    assert before >= 40
    n_after = compact(spark, path, fmt="parquet", target_file_bytes=64 * 1024 * 1024)
    assert n_after < before
    back = spark.read.parquet(path)
    assert back.count() == orders.count()


def test_corrupt_shard_fails_loudly_not_silently(spark, sf_dir, tmp_path):
    """A corrupt parquet shard must FAIL the scan, never be silently
    skipped: at 100 TB a flipped `spark.sql.files.ignoreCorruptFiles`
    turns a bad disk into invisible data loss that no row count will
    flag. Pins (a) the engine never enables the skip conf, and (b) the
    engine's actual fail-fast behavior on a table directory where one
    shard is garbage — if either drifts, this fails before production
    does."""
    import os
    import shutil

    from py4j.protocol import Py4JJavaError

    assert (
        spark.conf.get("spark.sql.files.ignoreCorruptFiles") == "false"
    ), "corrupt-file skipping got enabled — silent data loss at scale"

    tdir = str(tmp_path / "t.parquet")
    os.makedirs(tdir)
    good = str(tmp_path / "good")
    load_table(spark, sf_dir, "region").coalesce(1).write.parquet(good)
    part = next(f for f in os.listdir(good) if f.startswith("part-"))
    shutil.copyfile(
        os.path.join(good, part), os.path.join(tdir, "part-00000.parquet")
    )
    with open(os.path.join(tdir, "part-00001.parquet"), "wb") as f:
        f.write(b"PAR1 this is definitely not a parquet footer")
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE|[Cc]orrupt"):
        spark.read.parquet(tdir).count()


def test_schema_registry_matches_testdata(spark, sf_dir):
    """Every registry schema must match what the loader actually produces —
    drift here breaks every downstream operator silently."""
    from full_data_infrastructure_spark.schemas import SYNTHETIC_TABLES

    for name in SYNTHETIC_TABLES:
        df = load_table(spark, sf_dir, name)
        assert len(df.schema.fields) > 0, name
        # loader output must be stable: re-loading gives the identical schema
        again = load_table(spark, sf_dir, name)
        assert df.schema == again.schema, name


def test_events_ts_normalized_across_storage_variants(spark, sf_dir, tmp_path):
    """The driver has regenerated events.parquet with THREE different ts
    physical types across rounds — TIMESTAMP(NANOS) (read as bigint under
    nanosAsLong), tz-less timestamp[us] (TIMESTAMP_NTZ under Spark 4),
    and plain TIMESTAMP_LTZ. load_table must hand every consumer one
    stable type (timestamp) with identical wall-clock values whichever
    variant is on disk — the r3 sessionize_batch red was exactly this
    class of drift."""
    import os

    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    baseline = {
        r["event_id"]: r["s"]
        for r in events.select(
            "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")
        ).collect()
    }

    variants = {
        "ntz": events.select(
            "event_id", F.col("ts").cast("timestamp_ntz").alias("ts")
        ),
        "ltz": events.select("event_id", "ts"),
    }
    for label, df in variants.items():
        vdir = str(tmp_path / label)
        df.write.parquet(os.path.join(vdir, "events.parquet"))
        loaded = load_table(spark, vdir, "events")
        assert dict(loaded.dtypes)["ts"] == "timestamp", label
        got = {
            r["event_id"]: r["s"]
            for r in loaded.select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s"),
            ).collect()
        }
        assert got == baseline, f"{label}: wall-clock values drifted"


def test_jsonl_source_roundtrip(spark, sf_dir, tmp_path):
    """load_table's fmt seam covers line-delimited JSON sources (the other
    common corpus interchange format besides parquet)."""
    from full_data_infrastructure_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "documents.jsonl.parquet")  # table_path suffix
    docs.write.mode("overwrite").json(path)
    back = load_table(spark, str(tmp_path), "documents.jsonl", fmt="json")
    assert back.count() == docs.count()
    a = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    b = {r["doc_id"]: r["text"] for r in back.select("doc_id", "text").collect()}
    assert a == b


def test_jdbc_roundtrip_against_embedded_derby(spark, tmp_path):
    """Real JDBC contract test: Spark ships Apache Derby (an embedded JDBC
    database) on its classpath, so the append sink and the PARTITIONED
    reader get a genuine connect->write->read roundtrip — no external DB
    needed. The partitioned read must fan out into multiple tasks AND
    return exactly the written rows."""
    from full_data_infrastructure_spark.sources.jdbc import jdbc_append

    url = f"jdbc:derby:{tmp_path}/contractdb;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    # Derby writes derby.log into the working directory when it boots
    # unless this property names another file.
    spark.sparkContext._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log")
    )

    src = spark.range(0, 1000).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v")
    jdbc_append(src, url, "people", user="app", password="app", driver=driver)

    reader = jdbc_reader(
        spark,
        url=url,
        table="people",
        user="app",
        password="app",
        driver=driver,
        partition_column="id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=4,
    )
    df = reader.load()
    assert df.rdd.getNumPartitions() == 4  # the scan actually fans out
    got = df.selectExpr("COUNT(*) AS n", "SUM(id) AS s").collect()[0]
    assert (got["n"], got["s"]) == (1000, 499500)


def _write_minimal_xlsx(path, header, rows):
    """Write a standard-layout xlsx by hand (zip of sheet XML + shared
    strings) — the same member files every real xlsx writer produces, so
    the stdlib decoder is exercised on the genuine format."""
    import zipfile

    strings: list[str] = []

    def cell(ref, value):
        if isinstance(value, (int, float)):
            return f'<c r="{ref}"><v>{value}</v></c>'
        strings.append(str(value))
        return f'<c r="{ref}" t="s"><v>{len(strings) - 1}</v></c>'

    def col_letter(i):
        out = ""
        i += 1
        while i:
            i, rem = divmod(i - 1, 26)
            out = chr(65 + rem) + out
        return out

    body = []
    for rn, row in enumerate([header] + rows, start=1):
        cells = "".join(
            cell(f"{col_letter(ci)}{rn}", v) for ci, v in enumerate(row)
        )
        body.append(f'<row r="{rn}">{cells}</row>')
    sheet = (
        '<?xml version="1.0"?><worksheet xmlns='
        '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(body)}</sheetData></worksheet>"
    )
    shared = (
        '<?xml version="1.0"?><sst xmlns='
        '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{s}</t></si>" for s in strings)
        + "</sst>"
    )
    workbook = (
        '<?xml version="1.0"?><workbook xmlns='
        '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        z.writestr("xl/sharedStrings.xml", shared)


def test_read_hr_excel_stdlib_fallback(spark, tmp_path, monkeypatch):
    """S5 end-to-end on the stdlib decoder (pd.read_excel is forced to its
    no-openpyxl ImportError so the fallback runs in ANY environment):
    decode a real-layout xlsx, normalize French headers, land on the
    employees schema with correct types — including date cells stored the
    way real Excel stores them, as numeric serials."""
    import datetime as _dt

    import full_data_infrastructure_spark.sources.excel as excel_mod

    def no_openpyxl(*args, **kwargs):
        raise ImportError("Missing optional dependency 'openpyxl'")

    monkeypatch.setattr(excel_mod.pd, "read_excel", no_openpyxl)

    epoch = _dt.date(1899, 12, 30)
    serial_birthday = (_dt.date(1990, 12, 10) - epoch).days
    path = str(tmp_path / "hr.xlsx")
    header = [
        "Matricule", "Prénom", "Nom", "Date de naissance", "Date d'embauche",
        "BU", "Salaire brut", "Type de contrat", "Adresse du domicile",
        "Moyen de déplacement domicile-travail",
        "Nombre de jours de congés payés",
    ]
    _write_minimal_xlsx(
        path,
        header,
        [
            # birthday as an Excel NUMERIC date serial; hire_date as ISO text
            [1, "Ada", "Lovelace", serial_birthday, "2015-03-01", "R&amp;D",
             52000, "CDI", "12 rue X", "vélo", 25],
            [2, "Alan", "Turing", "1987-06-23", "2012-09-15", "IT",
             61000, "CDD", "3 avenue Y", "métro", 27],
        ],
    )
    df = excel_mod.read_hr_excel(spark, path)
    assert [f.name for f in df.schema.fields] == [
        "id_employee", "first_name", "last_name", "birthday", "hire_date",
        "business_unity", "gross_salary", "constract_type", "address",
        "transport_mode", "paid_leaved_days",
    ]
    rows = {r["id_employee"]: r for r in df.collect()}
    assert rows[1]["first_name"] == "Ada"
    assert str(rows[1]["birthday"]) == "1990-12-10"  # decoded from the serial
    assert str(rows[1]["hire_date"]) == "2015-03-01"
    assert rows[1]["gross_salary"] == 52000
    assert rows[2]["transport_mode"] == "métro"
    assert str(rows[2]["birthday"]) == "1987-06-23"
    assert rows[2]["paid_leaved_days"] == 27


def test_ensure_bucket_drives_boto3_seam(monkeypatch):
    """S13: with an object-store client importable, ensure_bucket must
    head-then-create through it (the reference's read_delta.py flow);
    without one it stays a documented local no-op."""
    import sys
    import types

    from full_data_infrastructure_spark.sources import sinks as sinks_mod

    calls = []

    class FakeClient:
        def head_bucket(self, Bucket):
            calls.append(("head", Bucket))
            raise Exception("404 not found")

        def create_bucket(self, Bucket):
            calls.append(("create", Bucket))

    fake = types.ModuleType("boto3")
    fake.client = lambda service: FakeClient()
    monkeypatch.setitem(sys.modules, "boto3", fake)
    assert sinks_mod.ensure_bucket("training-data") is True
    assert calls == [("head", "training-data"), ("create", "training-data")]

    # A non-404 head failure (403, timeout) must surface, never trigger a
    # doomed create that masks the real error.
    class DeniedClient(FakeClient):
        def head_bucket(self, Bucket):
            raise Exception("AccessDenied")

    fake.client = lambda service: DeniedClient()
    with pytest.raises(Exception, match="AccessDenied"):
        sinks_mod.ensure_bucket("training-data")

    monkeypatch.delitem(sys.modules, "boto3")
    monkeypatch.setattr(
        "builtins.__import__",
        _blocked_import("boto3", __import__),
    )
    assert sinks_mod.ensure_bucket("training-data") is False


def _blocked_import(name, real_import):
    def imp(mod, *args, **kwargs):
        if mod == name:
            raise ImportError(f"{name} blocked for test")
        return real_import(mod, *args, **kwargs)

    return imp


def test_compact_coalesce_mode_moves_no_data(spark, sf_dir, tmp_path):
    """shuffle=False compaction must concatenate input splits locally:
    same rows, fewer files, and NO Exchange anywhere in the rewrite plan
    (the corpus never crosses the network)."""
    import contextlib
    import io
    import os

    from full_data_infrastructure_spark.sources.sinks import compact

    path = str(tmp_path / "fragmented_nc")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(40).write.mode("overwrite").parquet(path)
    before = sum(f.endswith(".parquet") for f in os.listdir(path))
    assert before >= 40

    # plan proof on the equivalent coalesce rewrite
    df = spark.read.parquet(path).coalesce(1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "Exchange" not in buf.getvalue()

    n_after = compact(
        spark, path, fmt="parquet",
        target_file_bytes=64 * 1024 * 1024, shuffle=False,
    )
    assert n_after < before
    back = spark.read.parquet(path)
    assert back.count() == orders.count()


def test_training_shards_write_balanced_and_lossless(spark, sf_dir, tmp_path):
    """write_training_shards: every shard directory exists, each is written
    by exactly one task (one data file), the union of shards is the input
    bit-for-bit (count + key set), and md5 assignment keeps shard sizes
    balanced — the properties a trainer job relies on before fanning its
    data-loader ranks over shard_id=K/ directories."""
    import os

    from full_data_infrastructure_spark.operators.layout import (
        TRAINING_SHARDS,
        write_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "shards")
    write_training_shards(docs, key="doc_id", path=path)

    shard_dirs = sorted(d for d in os.listdir(path) if d.startswith("shard_id="))
    assert len(shard_dirs) == TRAINING_SHARDS
    for d in shard_dirs:
        files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)  # one writer task per shard

    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert (
        back.select("doc_id").distinct().count()
        == docs.select("doc_id").distinct().count()
    )

    counts = [r["c"] for r in back.groupBy("shard_id").count().withColumnRenamed("count", "c").collect()]
    assert len(counts) == TRAINING_SHARDS  # no empty shard
    assert max(counts) <= 3 * min(counts), counts  # md5 balance (sf0.001: 20..39)

    # determinism: a rewrite lands every doc in the same shard
    path2 = str(tmp_path / "shards2")
    write_training_shards(docs, key="doc_id", path=path2)
    a = spark.read.parquet(path).select("doc_id", "shard_id")
    b = spark.read.parquet(path2).select("doc_id", "shard_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_python_workers_import_package_found_through_sys_path(tmp_path, sf_dir):
    """A driver that finds the package only through ``sys.path`` (no
    PYTHONPATH, working directory outside the checkout) still runs a
    query with a Python-worker stage: build_session puts the package's
    parent directory on the workers' path, so the mapInPandas worker of
    multimodal_decode can unpickle the engine's function."""
    import os
    import subprocess
    import sys
    import textwrap

    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "run_decode.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {checkout!r})
        from full_data_infrastructure_spark import queries
        from full_data_infrastructure_spark.session import build_session

        spark = build_session(app_name="worker-path", shuffle_partitions=1)
        queries._ensure_loaded()
        df = queries.REGISTRY["multimodal_decode"].build(spark, {sf_dir!r})
        print("rows", df.count())
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rows = [line for line in proc.stdout.splitlines() if line.startswith("rows ")]
    assert rows and int(rows[0].split()[1]) > 0, proc.stdout
