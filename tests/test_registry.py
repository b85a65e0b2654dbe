"""Persistent versioned registry + registration validation gauntlet.

Mirrors the reference's registry-management test strategy
(tests/test_registry_management.py, tests/test_datasets.py:391): register,
reopen, version-bump, and reject each invalid-dataset class at
registration time.
"""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from dsgrid_spark.datasets.handlers import DatasetConfig
from dsgrid_spark.operators.aggregation import AggregationModel, ColumnModel
from dsgrid_spark.query.models import (
    DatasetModel,
    MappingSpec,
    ProjectQueryModel,
    ResultModel,
)
from dsgrid_spark.query.submitter import QuerySubmitter
from dsgrid_spark.registry.store import (
    RegistryError,
    RegistryStore,
    VersionUpdateType,
    bump_version,
)
from dsgrid_spark.registry.validation import DatasetValidationError


T0 = dt.datetime(2024, 1, 1)


@pytest.fixture()
def load_df(spark):
    rows = [
        (T0 + dt.timedelta(hours=h), county, float(h + 1) * mult)
        for h in range(4)
        for county, mult in [("06037", 1.0), ("08031", 10.0)]
    ]
    return spark.createDataFrame(rows, "timestamp timestamp, geography string, value double")


@pytest.fixture()
def county_state_map(spark):
    return spark.createDataFrame(
        [("06037", "CA", 1.0), ("08031", "CO", 1.0)],
        "from_id string, to_id string, from_fraction double",
    )


def _q(name="regq"):
    return ProjectQueryModel(
        name=name,
        source_datasets=[DatasetModel(
            dataset_id="load",
            mappings=[MappingSpec(dimension="geography",
                                  mapping="county_to_state")],
        )],
        result=ResultModel(aggregations=[AggregationModel(
            group_by_columns=[ColumnModel(dimension_name="geography")],
            aggregation_function="sum")]),
    )


def test_bump_version():
    assert bump_version("1.2.3", VersionUpdateType.MAJOR) == "2.0.0"
    assert bump_version("1.2.3", VersionUpdateType.MINOR) == "1.3.0"
    assert bump_version("1.2.3", VersionUpdateType.PATCH) == "1.2.4"


def test_register_reopen_query(spark, load_df, county_state_map, tmp_path):
    """Register in one store handle, reopen from disk in a fresh handle,
    run a lifecycle query; versions and log survive."""
    store = RegistryStore(tmp_path / "reg", spark)
    assert store.register_dataset("load", load_df) == "1.0.0"
    store.register_dimension("geography", spark.createDataFrame(
        [("06037", "Los Angeles"), ("08031", "Denver")], "id string, name string"))
    store.register_mapping("county_to_state", county_state_map,
                           from_dimension="county", to_dimension="state",
                           mapping_type="many_to_one_aggregation")

    # fresh handle = what a new Spark session would construct
    reopened = RegistryStore(tmp_path / "reg", spark)
    assert reopened.list_ids("datasets") == ["load"]
    assert reopened.latest_version("mappings", "county_to_state") == "1.0.0"
    assert reopened.log("datasets", "load")[0]["message"] == "initial registration"

    cat = reopened.load_catalog()
    out = {r["geography"]: r["value"]
           for r in QuerySubmitter(cat).submit(_q()).collect()}
    assert out == {"CA": 1 + 2 + 3 + 4, "CO": 10 * (1 + 2 + 3 + 4)}


def test_duplicate_and_missing_registrations(spark, load_df, tmp_path):
    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("load", load_df)
    with pytest.raises(RegistryError, match="already registered"):
        store.register_dataset("load", load_df)
    with pytest.raises(RegistryError, match="not registered"):
        store.latest_version("datasets", "nope")
    with pytest.raises(RegistryError, match="not registered"):
        store.update_dimension("nope", load_df)


def test_mapping_version_bump_invalidates_cache(spark, load_df,
                                                county_state_map, tmp_path):
    """The wrong-answer bug class from SURVEY §7.4 risk #6: a
    re-registered mapping must NOT serve the stale cached result."""
    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("load", load_df)
    store.register_mapping("county_to_state", county_state_map,
                           from_dimension="county", to_dimension="state",
                           mapping_type="many_to_one_aggregation")

    out_dir = tmp_path / "out"
    first = {r["geography"]: r["value"] for r in
             QuerySubmitter(store.load_catalog(), output_dir=out_dir)
             .submit(_q()).collect()}
    assert first["CA"] == 10.0

    # re-register the mapping with halved fractions (a real-world config fix)
    halved = county_state_map.withColumn("from_fraction",
                                         F.col("from_fraction") * 0.5)
    v2 = store.update_mapping("county_to_state", halved,
                              validate=False)
    assert v2 == "2.0.0"
    assert store.latest_version("mappings", "county_to_state") == "2.0.0"

    second = {r["geography"]: r["value"] for r in
              QuerySubmitter(store.load_catalog(), output_dir=out_dir)
              .submit(_q()).collect()}
    assert second["CA"] == pytest.approx(5.0)  # stale cache would say 10.0

    # pinning the old version still reproduces the old result
    pinned = store.load_catalog(
        versions={"mappings/county_to_state": "1.0.0"})
    third = {r["geography"]: r["value"] for r in
             QuerySubmitter(pinned, output_dir=out_dir).submit(_q()).collect()}
    assert third["CA"] == pytest.approx(10.0)


def test_register_mapping_validates_fractions(spark, tmp_path):
    store = RegistryStore(tmp_path / "reg", spark)
    bad = spark.createDataFrame(
        [("a", "x", 0.5), ("a", "y", 0.2)],
        "from_id string, to_id string, from_fraction double",
    )
    with pytest.raises(ValueError, match="sum to 1.0"):
        store.register_mapping("m", bad,
                               mapping_type="one_to_many_disaggregation")
    # nothing was written
    assert store.list_ids("mappings") == []


# ---- validation gauntlet (reference schema handler checks) -------------

def test_validate_rejects_unexpected_column(spark, load_df, tmp_path):
    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dimension("geography", spark.createDataFrame(
        [("06037", "LA"), ("08031", "Denver")], "id string, name string"))
    bad = load_df.withColumn("mystery", F.lit("x"))
    with pytest.raises(DatasetValidationError, match="allowed_columns"):
        store.register_dataset("bad", bad, dimension_names=["geography"])
    assert store.list_ids("datasets") == []


def test_validate_rejects_nonstring_dimension(spark, tmp_path):
    store = RegistryStore(tmp_path / "reg", spark)
    bad = spark.createDataFrame(
        [(T0, 1.5, 1.0)], "timestamp timestamp, geography double, value double")
    with pytest.raises(DatasetValidationError, match="string_dimensions"):
        store.register_dataset("bad", bad)


def test_validate_rejects_null_dimension(spark, tmp_path):
    store = RegistryStore(tmp_path / "reg", spark)
    bad = spark.createDataFrame(
        [(T0, "06037", 1.0), (T0, None, 2.0)],
        "timestamp timestamp, geography string, value double")
    with pytest.raises(DatasetValidationError, match="no_nulls"):
        store.register_dataset("bad", bad)


def test_validate_rejects_unknown_dimension_id(spark, load_df, tmp_path):
    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dimension("geography", spark.createDataFrame(
        [("06037", "LA")], "id string, name string"))  # 08031 missing
    with pytest.raises(DatasetValidationError, match="dimension_records"):
        store.register_dataset("load", load_df, dimension_names=["geography"])


def test_validate_rejects_ragged_time(spark, load_df, tmp_path):
    store = RegistryStore(tmp_path / "reg", spark)
    ragged = load_df.filter(
        ~((F.col("geography") == "08031")
          & (F.col("timestamp") == T0 + dt.timedelta(hours=3))))
    with pytest.raises(DatasetValidationError, match="time_consistency"):
        store.register_dataset("bad", ragged)


def test_validate_rejects_two_table_id_mismatch(spark, tmp_path):
    store = RegistryStore(tmp_path / "reg", spark)
    load_data = spark.createDataFrame(
        [(1, T0, 1.0), (2, T0, 2.0)], "id int, timestamp timestamp, value double")
    lookup = spark.createDataFrame(
        [(1, "06037")], "id int, geography string")  # id 2 missing
    with pytest.raises(DatasetValidationError, match="id_consistency"):
        store.register_dataset("bad", load_data, lookup_source=lookup)


def test_validate_accepts_good_datasets(spark, load_df, tmp_path):
    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dimension("geography", spark.createDataFrame(
        [("06037", "LA"), ("08031", "Denver")], "id string, name string"))
    v = store.register_dataset("load", load_df, dimension_names=["geography"])
    assert v == "1.0.0"
    # two-table with consistent ids and a scaling factor passes too
    load_data = spark.createDataFrame(
        [(1, T0 + dt.timedelta(hours=h), float(h)) for h in range(2)]
        + [(2, T0 + dt.timedelta(hours=h), float(h)) for h in range(2)],
        "id int, timestamp timestamp, value double")
    lookup = spark.createDataFrame(
        [(1, "06037", 1.0), (2, "08031", 2.0)],
        "id int, geography string, scaling_factor double")
    v2 = store.register_dataset("two", load_data, lookup_source=lookup,
                                dimension_names=["geography"])
    assert v2 == "1.0.0"


def test_cli_registry_commands(spark, load_df, county_state_map, tmp_path, capsys):
    """CLI registry surface (reference dsgrid/cli/registry.py):
    register -> list -> update -> dump."""
    from dsgrid_spark.cli import main
    from dsgrid_spark.sources.writers import write_parquet

    reg = str(tmp_path / "reg")
    dpath = tmp_path / "load.parquet"
    mpath = tmp_path / "map.parquet"
    write_parquet(load_df, dpath)
    write_parquet(county_state_map, mpath)

    assert main(["registry", "register", reg, "dataset", "load",
                 str(dpath)]) == 0
    assert main(["registry", "register", reg, "mapping", "county_to_state",
                 str(mpath), "--from-dimension", "county",
                 "--to-dimension", "state",
                 "--mapping-type", "many_to_one_aggregation"]) == 0
    assert main(["registry", "update", reg, "dataset", "load", str(dpath),
                 "--update-type", "minor", "--message", "refresh"]) == 0
    capsys.readouterr()

    assert main(["registry", "list", reg]) == 0
    out = capsys.readouterr().out
    assert "load  1.1.0" in out and "county_to_state  1.0.0" in out

    assert main(["registry", "dump", reg, "dataset", "load"]) == 0
    import json as _json

    dump = _json.loads(capsys.readouterr().out)
    assert dump["current"] == "1.1.0"
    assert [e["version"] for e in dump["log"]] == ["1.0.0", "1.1.0"]
    assert dump["log"][1]["message"] == "refresh"


def test_cli_run_from_registry(spark, load_df, county_state_map, tmp_path,
                               capsys):
    """run --registry: catalog comes from the persistent registry, and
    --project enables name resolution."""
    import json as _json

    from dsgrid_spark.cli import main
    from dsgrid_spark.query.project import (
        ProjectConfig, SupplementalDimensionModel,
    )

    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("load", load_df)
    store.register_mapping("county_to_state", county_state_map,
                           from_dimension="county", to_dimension="state",
                           mapping_type="many_to_one_aggregation")
    store.register_project(ProjectConfig(
        project_id="demo",
        supplemental_dimensions=[SupplementalDimensionModel(
            name="state", dimension_type="geography",
            mapping="county_to_state")]))

    spec = tmp_path / "q.json"
    spec.write_text(_json.dumps({"query": {
        "name": "regq",
        "source_datasets": [{"dataset_id": "load", "mappings": [
            {"dimension": "geography", "mapping": "county_to_state"}]}],
        "result": {"aggregations": [{
            "group_by_columns": [{"dimension_name": "geography"}],
            "aggregation_function": "sum"}]},
    }}))
    assert main(["run", str(spec), "--registry", str(tmp_path / "reg"),
                 "--project", "demo", "--show", "5"]) == 0
    out = capsys.readouterr().out
    assert "rows: 2" in out


def test_orphaned_version_dir_does_not_block_retry(spark, load_df, tmp_path):
    """A crash between data write and index update used to leave a
    version dir that permanently blocked re-registration (parquet
    mode('error')). Registration now stages + renames, and clears
    orphans the index never acknowledged."""
    store = RegistryStore(tmp_path / "reg", spark)
    orphan = tmp_path / "reg" / "datasets" / "load" / "1.0.0"
    orphan.mkdir(parents=True)
    (orphan / "junk.txt").write_text("half-written")
    store.register_dataset("load", load_df, validate=False)
    assert store.latest_version("datasets", "load") == "1.0.0"
    assert not (orphan / "junk.txt").exists()
    assert store.load_catalog().dataset("load")[0].count() == load_df.count()


def test_failed_registration_leaves_no_version_dir(spark, tmp_path):
    """A registration whose data write fails must leave neither a version
    dir nor an index entry, so an immediate retry succeeds."""
    store = RegistryStore(tmp_path / "reg", spark)
    with pytest.raises(Exception):
        store.register_dataset("bad", str(tmp_path / "missing.parquet"),
                               validate=False)
    assert not (tmp_path / "reg" / "datasets" / "bad" / "1.0.0").exists()
    assert "bad" not in store.list_ids("datasets")


def test_registry_lock_file_created_and_reentrant(spark, load_df, tmp_path):
    """Mutations take an advisory flock; update_* nests register_* under
    the same lock (re-entrant) without deadlocking."""
    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("load", load_df, validate=False)
    v2 = store.update_dataset("load", load_df, validate=False,
                              update_type=VersionUpdateType.MINOR)
    assert v2 == "1.1.0"
    assert (tmp_path / "reg" / ".registry.lock").exists()


def test_registry_over_file_uri_root(spark, load_df, tmp_path):
    """The registry root also works through Hadoop FS URIs (the
    object-store path — s3a://... works identically; reference
    dsgrid/filesystem/s3_filesystem.py:118): parquet reads/writes go
    through the scheme while the JSON index uses the local view."""
    store = RegistryStore(tmp_path / "reg_uri", spark)
    store.register_dataset("load", load_df, validate=False)
    table = (tmp_path / "reg_uri" / "datasets" / "load" / "1.0.0"
             / "table.parquet")
    df = spark.read.parquet(f"file://{table}")
    assert df.count() == load_df.count()


def test_registry_lock_protocol(spark, tmp_path):
    """uuid+TTL lock files over FilesystemInterface (VERDICT r4 item 3;
    reference cloud/s3_storage_interface.py:49-134): contention fails
    cleanly, re-entrancy works, stale locks break after TTL, release
    checks ownership."""
    from dsgrid_spark.filesystem import LocalFilesystem
    from dsgrid_spark.registry.locking import (
        RegistryLock, RegistryLockError, lock_path_for, registry_lock,
    )

    fs = LocalFilesystem()
    root = str(tmp_path / "reg")
    path = lock_path_for(root)

    a = RegistryLock(fs, path, user="alice", timeout_seconds=0.8,
                     poll_seconds=0.1)
    b = RegistryLock(fs, path, user="bob", timeout_seconds=0.8,
                     poll_seconds=0.1)
    a.acquire()
    holder = a.read_holder()
    assert holder["username"] == "alice" and holder["uuid"] == a.uuid
    # second writer blocks, then times out with an attributable error
    with pytest.raises(RegistryLockError, match="alice"):
        b.acquire()
    # re-entrant for the holder; inner release keeps the lock
    a.acquire()
    a.release()
    assert a.read_holder() is not None
    # non-holder cannot release without force
    with pytest.raises(RegistryLockError, match="refusing"):
        b.release()
    b.release(force=True)
    assert a.read_holder() is None
    a._depth = 0

    # stale lock (expired TTL) is broken and taken over
    a2 = RegistryLock(fs, path, user="alice", ttl_seconds=0.2)
    a2.acquire()
    time.sleep(0.3)
    b2 = RegistryLock(fs, path, user="bob", ttl_seconds=0.2,
                      timeout_seconds=2.0, poll_seconds=0.1)
    b2.acquire()
    assert b2.read_holder()["username"] == "bob"
    b2.release()

    # context manager + helper
    with registry_lock(fs, root, user="carol") as lk:
        assert lk.read_holder()["username"] == "carol"
    assert lk.read_holder() is None


def test_lock_create_exclusive_over_hadoop_uri(spark, tmp_path):
    """create_exclusive through the Hadoop FS layer (file:// exercises
    the same JVM API an s3a:// root uses): first create wins, second
    fails without clobbering, and the full lock protocol runs over it."""
    from dsgrid_spark.filesystem import HadoopFilesystem
    from dsgrid_spark.registry.locking import RegistryLock, RegistryLockError

    root = f"file://{tmp_path}/cloudreg"
    fs = HadoopFilesystem(spark, root)
    fs.mkdirs(f"{root}/.locks")
    assert fs.create_exclusive(f"{root}/.locks/registry.lock", "first")
    assert not fs.create_exclusive(f"{root}/.locks/registry.lock", "second")
    assert fs.read_text(f"{root}/.locks/registry.lock") == "first"
    fs.rm_tree(f"{root}/.locks/registry.lock")

    a = RegistryLock(fs, f"{root}/.locks/registry.lock", user="alice")
    b = RegistryLock(fs, f"{root}/.locks/registry.lock", user="bob",
                     timeout_seconds=0.5, poll_seconds=0.1)
    with a.held():
        with pytest.raises(RegistryLockError, match="alice"):
            b.acquire()
    # released: bob can now take it
    with b.held():
        assert b.read_holder()["username"] == "bob"


def test_sync_to_respects_foreign_lock(spark, load_df, tmp_path):
    """sync_to must fail cleanly while another writer holds the dst
    lock file, and succeed (writing its own lock) once released."""
    import json as json_mod

    from dsgrid_spark.filesystem import LocalFilesystem
    from dsgrid_spark.registry.locking import RegistryLockError, lock_path_for

    src = RegistryStore(tmp_path / "src", spark)
    dst = RegistryStore(tmp_path / "dst", spark)
    src.register_dataset("load", load_df, validate=False)

    # a foreign writer holds the dst lock
    fs = LocalFilesystem()
    lock_path = lock_path_for(str(tmp_path / "dst"))
    fs.create_exclusive(lock_path, json_mod.dumps(
        {"username": "other", "uuid": "not-ours", "timestamp": time.time()}))
    with pytest.raises(RegistryLockError, match="other"):
        src.sync_to(dst, lock_timeout=0.5)
    assert "load" not in dst.list_ids("datasets")

    fs.rm_tree(lock_path)
    assert src.sync_to(dst) == ["datasets/load@1.0.0"]
    # the lock was taken during the sync and released after
    assert not fs.exists(lock_path)


def test_lock_concurrent_acquire_exactly_one_winner(tmp_path):
    """The create-exclusive race: many writers grab simultaneously,
    exactly one acquires; the rest fail with RegistryLockError."""
    from concurrent.futures import ThreadPoolExecutor

    from dsgrid_spark.filesystem import LocalFilesystem
    from dsgrid_spark.registry.locking import RegistryLock, RegistryLockError

    fs = LocalFilesystem()
    path = str(tmp_path / ".locks" / "registry.lock")

    def attempt(i):
        lock = RegistryLock(fs, path, user=f"w{i}", timeout_seconds=0.3,
                            poll_seconds=0.05)
        try:
            lock.acquire()
            return ("won", lock)
        except RegistryLockError:
            return ("lost", lock)

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(attempt, range(8)))
    winners = [lk for status, lk in results if status == "won"]
    assert len(winners) == 1
    holder = winners[0].read_holder()
    assert holder["uuid"] == winners[0].uuid
    winners[0].release()


def test_registry_prune(spark, load_df, tmp_path, capsys):
    """prune removes staging leftovers and orphans always, old version
    data only with keep_versions; the log keeps full history."""
    from dsgrid_spark.cli import main as cli_main

    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("load", load_df, validate=False)
    store.update_dataset("load", load_df, validate=False)   # 2.0.0
    store.update_dataset("load", load_df, validate=False)   # 3.0.0
    ds_dir = tmp_path / "reg" / "datasets" / "load"
    (ds_dir / ".staging-9.9.9").mkdir()
    orphan = ds_dir / "8.0.0"
    orphan.mkdir()

    removed = store.prune()
    assert any(".staging-9.9.9" in p for p in removed["staging"])
    assert any("8.0.0" in p for p in removed["orphans"])
    assert removed["old_versions"] == []
    assert (ds_dir / "1.0.0").exists()

    removed = store.prune(keep_versions=1)
    assert sorted(p.rsplit("/", 1)[1] for p in removed["old_versions"]) == [
        "1.0.0", "2.0.0"]
    assert (ds_dir / "3.0.0").exists() and not (ds_dir / "1.0.0").exists()
    assert [e["version"] for e in store.log("datasets", "load")] == [
        "1.0.0", "2.0.0", "3.0.0"]  # history intact

    rc = cli_main(["registry", "prune", str(tmp_path / "reg"), "--keep", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    assert '"staging"' in out


def test_registry_remove_and_download(spark, load_df, tmp_path, capsys):
    """Admin removal + dataset download (reference dsgrid_admin.py remove
    commands, cli/download.py)."""
    from dsgrid_spark.cli import main as cli_main

    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("load", load_df, validate=False)
    store.update_dataset("load", load_df, validate=False)  # 2.0.0

    # download pins a version; the copy is readable and re-registerable
    out = store.download("datasets", "load", tmp_path / "dl", version="1.0.0")
    assert out == tmp_path / "dl" / "datasets" / "load" / "1.0.0"
    got = spark.read.parquet(str(out / "table.parquet"))
    assert got.count() == load_df.count()
    with pytest.raises(RegistryError):  # no silent overwrite
        store.download("datasets", "load", tmp_path / "dl", version="1.0.0")

    # CLI download defaults to the latest version
    rc = cli_main(["registry", "download", str(tmp_path / "reg"),
                   "dataset", "load", str(tmp_path / "dl2")])
    assert rc == 0
    assert "2.0.0" in capsys.readouterr().out

    # remove drops the index entry and every version dir
    rc = cli_main(["registry", "remove", str(tmp_path / "reg"),
                   "dataset", "load"])
    assert rc == 0
    assert store.list_ids("datasets") == []
    assert not (tmp_path / "reg" / "datasets" / "load").exists()
    with pytest.raises(RegistryError):
        store.remove("datasets", "load")
    with pytest.raises(RegistryError):
        store.remove("bogus_kind", "load")


def test_registry_sync_mirrors_and_is_idempotent(spark, load_df, tmp_path):
    """One-way registry sync (reference registry sync, filesystem level):
    missing versions copy, logs merge, currents follow the source; a
    second sync is a no-op; dst-only entities survive."""
    src = RegistryStore(tmp_path / "src", spark)
    dst = RegistryStore(tmp_path / "dst", spark)
    src.register_dataset("load", load_df, validate=False)
    src.register_dimension("geo", load_df.select(
        F.col("geography").alias("id")).distinct())
    dst.register_dataset("dst_only", load_df, validate=False)

    copied = src.sync_to(dst)
    assert sorted(copied) == ["datasets/load@1.0.0", "dimensions/geo@1.0.0"]
    assert dst.latest_version("datasets", "load") == "1.0.0"
    got = spark.read.parquet(
        str(tmp_path / "dst" / "datasets" / "load" / "1.0.0" / "table.parquet"))
    assert got.count() == load_df.count()
    assert dst.latest_version("datasets", "dst_only") == "1.0.0"  # preserved

    assert src.sync_to(dst) == []  # idempotent

    # incremental: only the new version moves
    src.update_dataset("load", load_df, validate=False)  # 2.0.0
    assert src.sync_to(dst) == ["datasets/load@2.0.0"]
    assert dst.latest_version("datasets", "load") == "2.0.0"
    assert [e["version"] for e in dst.log("datasets", "load")] == [
        "1.0.0", "2.0.0"]

    # CLI wrapper mirrors into a fresh root
    from dsgrid_spark.cli import main as cli_main

    rc = cli_main(["registry", "sync", str(tmp_path / "src"),
                   str(tmp_path / "dst2")])
    assert rc == 0
    dst2 = RegistryStore(tmp_path / "dst2", spark)
    assert dst2.latest_version("datasets", "load") == "2.0.0"

    # filtered mirror = the reference's make-filtered-registry: a fresh
    # root carrying ONLY the selected entities
    filtered = RegistryStore(tmp_path / "filtered", spark)
    copied = src.sync_to(filtered, only=["datasets/load"])
    assert copied == ["datasets/load@1.0.0", "datasets/load@2.0.0"]
    assert filtered.list_ids("datasets") == ["load"]
    assert filtered.list_ids("dimensions") == []


def test_cli_create_and_map_dataset(spark, load_df, county_state_map,
                                    tmp_path, capsys):
    """query-spec scaffold (reference `dsgrid query project create`) and
    map-dataset (reference `dsgrid query dataset map-dataset`)."""
    import json as _json

    from dsgrid_spark.cli import main

    spec_path = tmp_path / "scaffold.json"
    assert main(["create", "myq", "--dataset-id", "load",
                 "--group-by", "geography", "model_year",
                 "-o", str(spec_path)]) == 0
    spec = _json.loads(spec_path.read_text())
    assert spec["query"]["name"] == "myq"
    gb = spec["query"]["result"]["aggregations"][0]["group_by_columns"]
    assert [c["dimension_name"] for c in gb] == ["geography", "model_year"]
    # the scaffold validates as-is
    capsys.readouterr()
    assert main(["validate", str(spec_path)]) == 0
    assert "ok" in capsys.readouterr().out

    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("load", load_df, validate=False)
    store.register_mapping("county_to_state", county_state_map,
                           from_dimension="county", to_dimension="state",
                           mapping_type="many_to_one_aggregation")
    out_path = tmp_path / "mapped.parquet"
    assert main(["map-dataset", str(tmp_path / "reg"), "load",
                 "county", "state", "--column", "geography",
                 "-o", str(out_path)]) == 0
    mapped = spark.read.parquet(str(out_path))
    assert sorted(r["geography"] for r in
                  mapped.select("geography").distinct().collect()) == [
        "CA", "CO"]


def test_rc_default_registry(spark, load_df, county_state_map, tmp_path,
                             capsys, monkeypatch):
    """Runtime config (reference dsgrid_rc.py): the rc's registry becomes
    the default for `run` when the spec has no inline catalog, and
    spark_conf entries apply to the session."""
    import json as _json

    from dsgrid_spark.cli import main
    from dsgrid_spark.rc import RC_ENV, load_rc

    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("load", load_df)
    store.register_mapping("county_to_state", county_state_map,
                           from_dimension="county", to_dimension="state",
                           mapping_type="many_to_one_aggregation")

    rc = tmp_path / "rc.json"
    rc.write_text(_json.dumps({
        "registry": str(tmp_path / "reg"),
        "spark_conf": {"spark.sql.shuffle.partitions": "12"},
        "timings": True,
    }))
    monkeypatch.setenv(RC_ENV, str(rc))
    assert load_rc()["registry"] == str(tmp_path / "reg")

    spec = tmp_path / "q.json"
    spec.write_text(_json.dumps({"query": {
        "name": "rcq",
        "source_datasets": [{"dataset_id": "load", "mappings": [
            {"dimension": "geography", "mapping": "county_to_state"}]}],
        "result": {"aggregations": [{
            "group_by_columns": [{"dimension_name": "geography"}],
            "aggregation_function": "sum"}]},
    }}))
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert main(["run", str(spec)]) == 0   # no --registry: rc supplies it
        out = capsys.readouterr().out
        assert "rows: 2" in out
        assert "total_s" in out                # rc timings report printed
        assert spark.conf.get("spark.sql.shuffle.partitions") == "12"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)

    # absent rc file -> empty config, CLI still requires explicit catalog
    monkeypatch.setenv(RC_ENV, str(tmp_path / "nope.json"))
    assert load_rc() == {}


def test_entity_meta_roundtrip(spark, load_df, tmp_path):
    """set_meta/get_meta: small operational KV on a registered entity,
    index-only (no data dir touched), surviving further updates."""
    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("load", load_df, validate=False)
    assert store.get_meta("datasets", "load", "wm") is None
    assert store.get_meta("datasets", "load", "wm", {"batch": -1}) == {
        "batch": -1}
    store.set_meta("datasets", "load", "wm", {"stream": "abc", "batch": 3})
    assert store.get_meta("datasets", "load", "wm") == {
        "stream": "abc", "batch": 3}
    # survives a version update and overwrites in place
    store.update_dataset("load", load_df, validate=False)
    store.set_meta("datasets", "load", "wm", {"stream": "abc", "batch": 4})
    assert store.get_meta("datasets", "load", "wm")["batch"] == 4
    with pytest.raises(RegistryError):
        store.get_meta("datasets", "nope", "wm")


def test_alias_version_metadata_only_bump(spark, load_df, tmp_path):
    """alias_version bumps the version counter WITHOUT writing data: no
    new version dir appears, readers/download/prune/sync all resolve the
    alias to the original data dir."""
    store = RegistryStore(tmp_path / "reg", spark)
    store.register_dataset("load", load_df, validate=False)
    v2 = store.alias_version("datasets", "load")
    assert v2 == "2.0.0"
    assert store.latest_version("datasets", "load") == "2.0.0"
    # no data dir for the alias; the original dir holds the rows
    assert not (tmp_path / "reg/datasets/load/2.0.0").exists()
    assert (tmp_path / "reg/datasets/load/1.0.0").exists()
    # readers resolve through the alias
    df, _cfg = store.load_catalog().dataset("load")
    assert df.count() == load_df.count()
    # alias chains collapse to the original data version
    v3 = store.alias_version("datasets", "load")
    entry = store.log("datasets", "load")
    assert entry[-1]["version"] == v3 == "3.0.0"
    assert entry[-1]["alias_of"] == "1.0.0"
    # download copies the resolved dir
    out = store.download("datasets", "load", tmp_path / "dl")
    assert (out / "table.parquet").exists()
    # prune keeps the aliased data dir alive even with keep_versions=1
    removed = store.prune(keep_versions=1)
    assert (tmp_path / "reg/datasets/load/1.0.0").exists()
    assert not removed["old_versions"]
    # a real update after aliasing writes a fresh dir at the next version
    v4 = store.update_dataset("load", load_df.limit(2), validate=False)
    assert v4 == "4.0.0"
    df4, _ = store.load_catalog().dataset("load")
    assert df4.count() == 2
    # sync mirrors alias log entries without copying phantom dirs
    dst = RegistryStore(tmp_path / "reg2", spark)
    copied = store.sync_to(dst)
    assert any("(alias)" in c for c in copied)
    assert dst.latest_version("datasets", "load") == "4.0.0"
    ddf, _ = dst.load_catalog().dataset("load")
    assert ddf.count() == 2


def test_cli_index_build_search_append_vacuum(spark, tmp_path, capsys):
    """The `index` CLI group drives the persisted-index lifecycle end
    to end: build term + pq indexes from parquet, search both (bm25
    terms; pq vector with re-rank), exactly-once append (replay
    message), vacuum reporting zero removals on a clean index, and
    kind auto-detection refusing a non-index dir."""
    import json as _json

    import pytest as _pytest

    from dsgrid_spark.cli import main as cli_main

    docs = spark.createDataFrame(
        [(0, "spark window stream"), (1, "stream engine data"),
         (2, "window window vector")], "doc_id long, text string")
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    tidx = str(tmp_path / "tidx")
    assert cli_main(["index", "build", "term", src, tidx,
                     "--n-buckets", "8"]) == 0
    capsys.readouterr()
    assert cli_main(["index", "search", tidx, "window", "-k", "2"]) == 0
    rows = [_json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    assert {r["id"] for r in rows} <= {0, 2} and rows

    extra = spark.createDataFrame([(3, "more window text")],
                                  "doc_id long, text string")
    src2 = str(tmp_path / "docs2.parquet")
    extra.write.parquet(src2)
    assert cli_main(["index", "append", tidx, src2,
                     "--batch-id", "b1"]) == 0
    assert "ingested" in capsys.readouterr().out
    assert cli_main(["index", "append", tidx, src2,
                     "--batch-id", "b1"]) == 0
    assert "replay" in capsys.readouterr().out
    assert cli_main(["index", "vacuum", tidx, "--ttl", "3600"]) == 0
    out = _json.loads(capsys.readouterr().out.strip())
    assert out == {"data_dirs_removed": 0, "intents_removed": 0,
                   "replaced_log_rows_removed": 0, "stale_locks_removed": 0}

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 5) for j in range(8)])
         for i in range(30)], "vec_id long, embedding array<double>")
    esrc = str(tmp_path / "emb.parquet")
    emb.write.parquet(esrc)
    pidx = str(tmp_path / "pidx")
    assert cli_main(["index", "build", "pq", esrc, pidx,
                     "--id-column", "vec_id", "--n-clusters", "2",
                     "--m", "4", "--k", "8"]) == 0
    capsys.readouterr()
    qv = _json.dumps([float((7 + j * 3) % 5) for j in range(8)])
    assert cli_main(["index", "search", pidx, "--vector", qv,
                     "-k", "3", "--n-probe", "2"]) == 0
    rows = [_json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 3 and rows[0]["id"] == 1  # self is the argmax

    with _pytest.raises(SystemExit, match="no term/ivf/pq/binary"):
        cli_main(["index", "vacuum", str(tmp_path)])


def test_cli_index_kind_refuses_incomplete_pq(spark, tmp_path, capsys):
    """(r8 review) a PQ build that crashed before the meta write leaves
    codes/codebooks without meta — the CLI must refuse rather than
    misclassify the tree as 'ivf' and append raw vectors into it."""
    import pytest as _pytest

    from dsgrid_spark.cli import main as cli_main

    emb = spark.createDataFrame(
        [(i, [float(j + i) for j in range(8)]) for i in range(10)],
        "vec_id long, embedding array<double>")
    esrc = str(tmp_path / "emb.parquet")
    emb.write.parquet(esrc)
    pidx = str(tmp_path / "pidx")
    assert cli_main(["index", "build", "pq", esrc, pidx,
                     "--id-column", "vec_id", "--n-clusters", "2",
                     "--m", "4", "--k", "4"]) == 0
    capsys.readouterr()
    # simulate the crash: meta never landed
    import shutil
    shutil.rmtree(f"{pidx}/meta")
    with _pytest.raises(SystemExit, match="incomplete index tree"):
        cli_main(["index", "append", pidx, esrc])


def test_cli_index_build_empty_input_fails_clearly(spark, tmp_path):
    """(r9, ADVICE) building a vector index from an empty table, or one
    whose first embedding is null, exits with a clear CLI error instead
    of a TypeError inside the dim derivation."""
    import pytest as _pytest

    from dsgrid_spark.cli import main as cli_main

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    esrc = str(tmp_path / "empty.parquet")
    empty.write.parquet(esrc)
    with _pytest.raises(SystemExit, match="cannot derive vector dim"):
        cli_main(["index", "build", "ivf", esrc, str(tmp_path / "i1"),
                  "--id-column", "vec_id"])
    nulls = spark.createDataFrame([(0, None)],
                                  "vec_id long, embedding array<double>")
    nsrc = str(tmp_path / "nulls.parquet")
    nulls.write.parquet(nsrc)
    with _pytest.raises(SystemExit, match="cannot derive vector dim"):
        cli_main(["index", "build", "pq", nsrc, str(tmp_path / "i2"),
                  "--id-column", "vec_id"])


def test_cli_binary_index_roundtrip(spark, tmp_path, capsys):
    """(r9) the `index` CLI group drives the persisted BINARY index:
    build (kind 'binary'), kind auto-detected search (re-ranked cosine
    by default, --no-rerank for raw Hamming), exactly-once append, and
    vacuum."""
    import json as _json

    from dsgrid_spark.cli import main as cli_main

    emb = spark.createDataFrame(
        [(i, [float(((i * 7 + j * 3) % 5) - 2) for j in range(8)])
         for i in range(30)], "vec_id long, embedding array<double>")
    esrc = str(tmp_path / "emb.parquet")
    emb.write.parquet(esrc)
    bidx = str(tmp_path / "bidx")
    assert cli_main(["index", "build", "binary", esrc, bidx,
                     "--id-column", "vec_id", "--n-clusters", "2"]) == 0
    capsys.readouterr()
    qv = _json.dumps([float(((7 + j * 3) % 5) - 2) for j in range(8)])
    assert cli_main(["index", "search", bidx, "--vector", qv,
                     "-k", "3", "--n-probe", "2",
                     "--shortlist", "10"]) == 0
    rows = [_json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 3 and rows[0]["id"] == 1  # self: cosine 1.0
    assert "score" in rows[0]
    assert cli_main(["index", "search", bidx, "--vector", qv,
                     "-k", "3", "--no-rerank"]) == 0
    rows = [_json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    assert rows[0]["id"] == 1 and rows[0]["hamming"] == 0
    extra = spark.createDataFrame(
        [(99, [1.0] * 8)], "vec_id long, embedding array<double>")
    src2 = str(tmp_path / "emb2.parquet")
    extra.write.parquet(src2)
    assert cli_main(["index", "append", bidx, src2, "--id-column",
                     "vec_id", "--batch-id", "b1"]) == 0
    assert "ingested" in capsys.readouterr().out
    assert cli_main(["index", "append", bidx, src2, "--id-column",
                     "vec_id", "--batch-id", "b1"]) == 0
    assert "replay" in capsys.readouterr().out
    assert cli_main(["index", "vacuum", bidx, "--ttl", "3600"]) == 0
    out = _json.loads(capsys.readouterr().out.strip())
    assert out == {"data_dirs_removed": 0, "intents_removed": 0,
                   "replaced_log_rows_removed": 0, "stale_locks_removed": 0}
