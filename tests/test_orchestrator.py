"""Orchestrator CLI flow tests: land feeds → sync → status → validate."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pim_etl_spark.orchestrator import load_supplier_feeds, run_status, run_sync, run_validate
from pim_etl_spark.pipeline import fixtures


@pytest.fixture(scope="module")
def landed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("feeds")
    modir = root / "midocean"
    modir.mkdir()
    for name, df in fixtures.feed_frames(spark, n_masters=12).items():
        df.write.mode("overwrite").parquet(str(modir / f"{name}.parquet"))
    return str(root)


def test_sync_and_status(spark, landed, tmp_path):
    gold = str(tmp_path / "gold.parquet")
    result = run_sync(spark, landed, gold, supplier_id="midocean")
    assert result["status"] == "success"
    assert result["products_in_gold"] == 12
    assert result["per_supplier"] == {"midocean": 12}

    status = run_status(spark, gold)
    assert status["total_products"] == 12
    assert status["by_supplier"] == {"midocean": 12}
    assert set(status["by_status"]) <= {"active", "discontinued"}

    # re-sync is idempotent under upsert (ReplaceOne semantics)
    result2 = run_sync(spark, landed, gold, supplier_id="midocean")
    assert result2["products_in_gold"] == 12


def test_incremental_since_watermark(spark, landed, tmp_path):
    """--since end-to-end through registry.incremental_filter: a
    future cutoff syncs nothing new (gold unchanged), a past cutoff
    re-syncs everything; incremental always requires an existing gold."""
    gold = str(tmp_path / "gold.parquet")
    with pytest.raises(FileNotFoundError, match="requires an existing gold"):
        run_sync(spark, landed, gold, supplier_id="midocean", since="2000-01-01")

    run_sync(spark, landed, gold, supplier_id="midocean")
    future = run_sync(spark, landed, gold, supplier_id="midocean", since="2099-01-01")
    assert future["status"] == "success"
    assert future["products_in_gold"] == 12  # nothing matched, gold intact

    past = run_sync(spark, landed, gold, supplier_id="midocean", since="2000-01-01")
    assert past["products_in_gold"] == 12  # full re-sync under upsert


def test_validate(spark, landed):
    out = run_validate(spark, landed)["validation"]
    assert out["midocean"] == "ok"
    assert out["laltex"] == "not-landed"


def test_missing_feed_errors(spark, tmp_path):
    bad = tmp_path / "feeds" / "midocean"
    bad.mkdir(parents=True)
    with pytest.raises(FileNotFoundError, match="mo_products"):
        load_supplier_feeds(spark, str(tmp_path / "feeds"), "midocean")


def test_quarantine_splits_invalid_rows(spark, tmp_path):
    from pim_etl_spark.pipeline import schemas

    root = tmp_path / "feeds"
    modir = root / "midocean"
    modir.mkdir(parents=True)
    feeds = fixtures.feed_frames(spark, n_masters=6)
    corrupt = spark.createDataFrame(
        [{"master_code": None, "product_name": "broken", "timestamp": "t"},
         {"master_code": "PRX", "product_name": None, "timestamp": "t"}],
        schemas.MO_PRODUCTS,
    )
    for name, df in feeds.items():
        if name == "mo_products":
            df = df.unionByName(corrupt)
        df.write.mode("overwrite").parquet(str(modir / f"{name}.parquet"))

    gold = str(tmp_path / "gold.parquet")
    qdir = str(tmp_path / "quarantine")
    result = run_sync(spark, str(root), gold, supplier_id="midocean", quarantine=qdir)
    assert result["quarantined"] == {"midocean": 2}
    assert result["products_in_gold"] == 6  # corrupt rows excluded
    bad = spark.read.parquet(f"{qdir}/midocean").collect()
    assert len(bad) == 2


def test_config_file_surface(tmp_path):
    """create-config writes defaults; load_config merges + rejects typos."""
    import json

    from pim_etl_spark import orchestrator as o

    path = str(tmp_path / "etl_config.json")
    assert o.main(["--action", "create-config", "--config", path]) == 0
    cfg = o.load_config(path)
    assert cfg == o.DEFAULT_CONFIG

    with open(path, "w") as f:
        json.dump({"gold": "elsewhere/products.parquet"}, f)
    cfg = o.load_config(path)
    assert cfg["gold"] == "elsewhere/products.parquet"
    assert cfg["feeds_dir"] == "feeds"  # default preserved

    with open(path, "w") as f:
        json.dump({"glod": "typo"}, f)
    with pytest.raises(ValueError, match="unknown config keys"):
        o.load_config(path)


def test_cli_compact_action(spark, tmp_path):
    from pim_etl_spark import orchestrator

    path = str(tmp_path / "gold_frag")
    spark.range(5_000).withColumn("k", F.col("id") % 5).repartition(32).write.parquet(path)
    rc = orchestrator.main(
        ["--action", "compact", "--gold", path, "--target-file-mb", "256", "--cluster-by", "k"]
    )
    assert rc == 0
    assert spark.read.parquet(path).count() == 5_000


def test_versioned_sync_history_rollback(spark, landed, tmp_path):
    """--versioned routes syncs through the manifest store: each sync
    is one transactional snapshot; history/status/rollback work through
    the CLI surface."""
    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    r1 = run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    assert r1["status"] == "success" and r1["version"] == 1
    assert r1["products_in_gold"] == 12

    # incremental with a future cutoff: empty delta, but still a
    # consistent new snapshot with all files carried
    r2 = run_sync(
        spark, landed, gold, supplier_id="midocean", since="2099-01-01", versioned=True
    )
    assert r2["version"] == 2 and r2["products_in_gold"] == 12
    assert r2["files_rewritten"] == 0

    status = run_status(spark, gold)
    assert status["total_products"] == 12 and status["version"] == 2

    # CLI: history then rollback to v1 (a NEW commit), then history again
    assert main(["--action", "rollback", "--gold", gold, "--to-version", "1"]) == 0
    assert V.current_version(gold) == 3
    assert [m["op"] for m in V.history(gold)][-1] == "rollback(v1)"
    assert V.read_version(spark, gold).count() == 12

    # incremental before any snapshot exists must fail loudly
    with pytest.raises(FileNotFoundError, match="versioned"):
        run_sync(
            spark, landed, str(tmp_path / "nope"), supplier_id="midocean",
            since="2000-01-01", versioned=True,
        )


def _land_with_null_keys(spark, src: str, dest: str, n_null: int, n_keep: int | None = None) -> str:
    """Copy the midocean feeds under ``src`` to ``dest``, keeping the
    first ``n_keep`` products (all by default) and planting ``n_null``
    product rows whose ``master_code`` (hence ``product_id``) is null."""
    out = os.path.join(dest, "midocean")
    for name in os.listdir(os.path.join(src, "midocean")):
        df = spark.read.parquet(os.path.join(src, "midocean", name))
        if name == "mo_products.parquet":
            kept = df.orderBy("master_code").limit(n_keep) if n_keep is not None else df
            nulls = df.orderBy("master_code").limit(n_null).withColumn(
                "master_code", F.lit(None).cast("string")
            )
            df = kept.unionByName(nulls)
        df.write.mode("overwrite").parquet(os.path.join(out, name))
    return dest


def _within(seconds: float, fn):
    """``fn()``, failing instead of hanging if it does not return."""
    import threading

    box = {}
    t = threading.Thread(target=lambda: box.update(out=fn()), daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"call did not return within {seconds} s"
    return box["out"]


def test_versioned_sync_error_count_is_observed_in_the_write(spark, landed, tmp_path):
    """The versioned sync's ETL counters come from the MERGE write job
    (DataFrame.observe), not a second query: planted null-key rows are
    counted exactly on a full sync and on a delta, and the empty
    --since delta reports zero without blocking on the Observation."""
    gold = str(tmp_path / "vgold")
    full = run_sync(
        spark, _land_with_null_keys(spark, landed, str(tmp_path / "full"), n_null=2),
        gold, supplier_id="midocean", versioned=True,
    )
    assert full["error_count"] == 2 and full["version"] == 1
    assert full["per_supplier"]["midocean"] >= 12

    delta = run_sync(
        spark, _land_with_null_keys(spark, landed, str(tmp_path / "delta"), n_null=3, n_keep=4),
        gold, supplier_id="midocean", versioned=True,
    )
    assert delta["error_count"] == 3 and delta["version"] == 2

    empty = _within(300, lambda: run_sync(
        spark, landed, gold, supplier_id="midocean", since="2099-01-01", versioned=True
    ))
    assert empty["error_count"] == 0 and empty["version"] == 3
    assert empty["files_rewritten"] == 0


def test_run_status_single_pass_matches_per_rollup_scans(spark, landed, tmp_path):
    """run_status derives both roll-ups and the total from one
    (supplier, status) aggregate; the dict equals the three separate
    scans it replaced, null keys included."""
    gold = str(tmp_path / "vgold")
    run_sync(
        spark, _land_with_null_keys(spark, landed, str(tmp_path / "f"), n_null=2),
        gold, supplier_id="midocean", versioned=True,
    )
    from pim_etl_spark.pipeline import versioned as V

    # a null-status row and a null-supplier row exercise the null keys
    V.commit_append(
        spark.createDataFrame(
            [("x_1", None, "active"), ("x_2", "midocean", None)],
            "product_id string, supplier_id string, status string",
        ),
        gold,
    )
    g = V.read_version(spark, gold)
    expected = {
        "total_products": g.count(),
        "by_supplier": {r[0]: r[1] for r in g.groupBy("supplier_id").count().collect()},
        "by_status": {r[0]: r[1] for r in g.groupBy("status").count().collect()},
        "version": V.current_version(gold),
    }
    assert None in expected["by_supplier"] and None in expected["by_status"]
    assert run_status(spark, gold) == expected


def test_cli_refresh_rollup_action(spark, landed, tmp_path):
    """refresh-rollup CLI: bootstrap a per-supplier rollup from the
    versioned gold, then a repeat sync + refresh keeps it consistent."""
    import json as _json

    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    rollup = str(tmp_path / "rollup")
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    assert main(["--action", "refresh-rollup", "--gold", gold, "--rollup", rollup]) == 0
    got = {r.supplier_id: r.n_rows for r in V.read_version(spark, rollup).collect()}
    assert got == {"midocean": 12}

    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    assert main(["--action", "refresh-rollup", "--gold", gold, "--rollup", rollup]) == 0
    got2 = {r.supplier_id: r.n_rows for r in V.read_version(spark, rollup).collect()}
    assert got2 == {"midocean": 12}  # idempotent re-sync → unchanged rollup


def test_cli_vacuum_retention_flag(spark, landed, tmp_path):
    """CLI vacuum: default retention protects fresh unreferenced files
    (in-flight-writer safety, round-5 ADVICE fix); an explicit
    --vacuum-min-age-hours 0 reclaims them under exclusive access."""
    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    n_before = len(os.listdir(os.path.join(gold, "data")))

    # default (6 h) retention: nothing this young is reclaimed
    assert main(["--action", "vacuum", "--gold", gold, "--keep-last", "1"]) == 0
    assert len(os.listdir(os.path.join(gold, "data"))) == n_before

    # exclusive-access reclaim
    assert main([
        "--action", "vacuum", "--gold", gold,
        "--keep-last", "1", "--vacuum-min-age-hours", "0",
    ]) == 0
    assert len(os.listdir(os.path.join(gold, "data"))) < n_before
    assert V.read_version(spark, gold).count() == 12


def test_cli_clone_and_replicate_actions(spark, landed, tmp_path):
    """CLI surface for the round-5 lakehouse ops: shallow clone (zero
    data copied, metadata-only — no SparkSession needed) and CDC
    replica refresh."""
    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    clone = str(tmp_path / "vclone")
    replica = str(tmp_path / "vreplica")
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)

    assert main(["--action", "clone", "--gold", gold, "--to", clone]) == 0
    assert V.read_version(spark, clone).count() == 12
    assert not os.listdir(os.path.join(clone, "data")) if os.path.isdir(
        os.path.join(clone, "data")
    ) else True

    assert main(["--action", "replicate", "--gold", gold, "--to", replica]) == 0
    assert V.read_version(spark, replica).count() == 12
    # second source sync + refresh keeps the replica at head
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    assert main(["--action", "replicate", "--gold", gold, "--to", replica]) == 0
    assert V.read_version(spark, replica).count() == 12


def test_cli_merge_branch_action(spark, landed, tmp_path):
    """CLI branch workflow: clone a branch, diverge it with a delete,
    merge it back; the source head reflects the branch's net delta.
    A conflicting concurrent source change reports status=conflict
    instead of silently losing an update."""
    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    branch = str(tmp_path / "vbranch")
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    n0 = V.read_version(spark, gold).count()

    assert main(["--action", "clone", "--gold", gold, "--to", branch]) == 0
    # branch-side change: delete one product
    victim = V.read_version(spark, branch).select("product_id").limit(1)
    V.delete_matching(spark, branch, victim, ["product_id"])

    assert main(["--action", "merge-branch", "--gold", gold, "--to", branch]) == 0
    assert V.read_version(spark, gold).count() == n0 - 1


def test_cli_rename_and_drop_column_actions(spark, tmp_path):
    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "gold")
    df = spark.createDataFrame(
        [(1, 10.0, "x", 1), (2, 20.0, "y", 1)],
        "k long, val double, note string, version long",
    )
    V.commit_snapshot(df, gold, op="bootstrap")

    assert main([
        "--action", "rename-column", "--gold", gold,
        "--column", "val", "--to-column", "price",
    ]) == 0
    assert "price" in V.read_version(spark, gold).columns

    assert main(["--action", "drop-column", "--gold", gold, "--column", "note"]) == 0
    head = V.read_version(spark, gold)
    assert "note" not in head.columns and "price" in head.columns
