"""Store parity tests — the reference's cases (tests/test_store.py:35-82)
plus the pinned intended semantics for dedup / casts (SURVEY.md §4)."""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

import numpy as np
import pandas as pd
import pytest

from oakstore_spark import ItemKeyError, SchemaError, Store


def test_create_store(tmp_path, spark):
    base = tmp_path / "data"
    Store(base_path=base, spark=spark)
    assert base.exists()
    assert (base / "items").exists()
    assert (base / "_metadata.json").exists()


def test_schema_conflict_raises(tmp_path, spark):
    base = tmp_path / "data"
    Store(base_path=base, cols={"PRICE": float}, index="TS", spark=spark)
    with pytest.raises(SchemaError):
        Store(base_path=base, cols={"OTHER": int}, index="TS", spark=spark)
    # reopening with no explicit schema is fine
    s = Store(base_path=base, spark=spark)
    assert s._metadata.index_name == "TS"


def test_write_and_read_back(store, ohlcv_data):
    store["MSFT"] = ohlcv_data
    out = store["MSFT"][:]
    assert len(out) == len(ohlcv_data)
    assert list(out.columns) == ["OPEN", "HIGH", "LOW", "CLOSE", "VOLUME"]
    assert out.index.name == "DATE"
    assert out.index.is_monotonic_increasing
    # value equality vs the pandas truth (sorted by date)
    truth = ohlcv_data.sort_index()
    assert (out["CLOSE"].to_numpy() == truth["Close"].to_numpy()).all()
    assert (out["VOLUME"].to_numpy() == truth["Volume"].to_numpy()).all()


def test_write_existing_key_raises(store, ohlcv_data):
    store["MSFT"] = ohlcv_data.head(10)
    with pytest.raises(ValueError):
        store["MSFT"] = ohlcv_data.head(10)


def test_range_query(store, ohlcv_data):
    store["MSFT"] = ohlcv_data
    d1, d2 = datetime(2000, 1, 1), datetime(2004, 12, 31)
    out = store["MSFT"][d1:d2]
    truth = ohlcv_data.sort_index().loc[d1:d2]
    assert len(out) == len(truth)
    assert out.index.min() >= pd.Timestamp(d1)
    assert out.index.max() <= pd.Timestamp(d2)
    # inclusive bounds: query exactly one known date
    some = ohlcv_data.index[100].to_pydatetime()
    one = store["MSFT"][some:some]
    assert len(one) == 1
    # open slices
    assert len(store["MSFT"][d1:]) == len(ohlcv_data.sort_index().loc[d1:])
    assert len(store["MSFT"][:d2]) == len(ohlcv_data.sort_index().loc[:d2])
    # far-future empty
    assert len(store["MSFT"][datetime(3000, 1, 1):]) == 0


def test_slice_validation(store, ohlcv_data):
    store["MSFT"] = ohlcv_data.head(10)
    with pytest.raises(KeyError):
        store["MSFT"][datetime(2020, 1, 1):datetime(2021, 1, 1):2]
    with pytest.raises(KeyError):
        store["MSFT"]["2020":]


def test_append_idempotent(store, ohlcv_data):
    # reference case tests/test_store.py:65-68 — write 10 rows, append full
    store["MSFT"] = ohlcv_data.head(10)
    store["MSFT"] += ohlcv_data
    out = store["MSFT"][:]
    assert len(out) == len(ohlcv_data)
    # appending the same data again changes nothing
    store["MSFT"] += ohlcv_data
    assert len(store["MSFT"][:]) == len(ohlcv_data)


def test_append_old_wins_on_same_date(store, ohlcv_data):
    store["MSFT"] = ohlcv_data.head(10)
    conflicting = ohlcv_data.head(3).copy()
    conflicting["Close"] = 999.0
    store["MSFT"] += conflicting
    out = store["MSFT"][:]
    assert len(out) == 10  # no duplicate dates
    assert (out["CLOSE"].head(3).to_numpy() != 999.0).all()  # old values kept


def test_append_missing_key_raises(store, ohlcv_data):
    with pytest.raises(ValueError):
        store["NOPE"] += ohlcv_data.head(5)


def test_query_missing_key_raises(store):
    with pytest.raises(ValueError):
        store["NOPE"][:]


@pytest.mark.parametrize("key", ["MSFT", "msft", "BRK.A", "A-B_c.1"])
def test_valid_keys(store, ohlcv_data, key):
    store[key] = ohlcv_data.head(5)
    assert len(store[key.upper()][:]) == 5  # keys are case-insensitive


@pytest.mark.parametrize("key", ["foo bar", "*foo", "#foo", ""])
def test_invalid_keys_raise(store, ohlcv_data, key):
    with pytest.raises(ItemKeyError):
        store[key] = ohlcv_data.head(5)


def test_schema_normalization(store, ohlcv_data):
    # lowercase/mixed names + extra column dropped + string dates coerced
    dirty = ohlcv_data.head(20).copy()
    dirty.columns = ["open", "High", "LOW", "cLoSe", "volume"]
    dirty["extra"] = 1
    dirty.index = dirty.index.astype(str)
    store["X"] = dirty
    out = store["X"][:]
    assert list(out.columns) == ["OPEN", "HIGH", "LOW", "CLOSE", "VOLUME"]
    assert len(out) == 20


def test_missing_column_raises(store, ohlcv_data):
    with pytest.raises(SchemaError):
        store["X"] = ohlcv_data.head(5).drop(columns=["Close"])


def test_cast_actually_applied(store, ohlcv_data):
    # reference only *checks* castability (store.py:167-168); we cast.
    d = ohlcv_data.head(5).copy()
    d["Volume"] = d["Volume"].astype(float)  # float in, bigint declared
    store["X"] = d
    out = store["X"][:]
    assert str(out["VOLUME"].dtype) == "int64"


def test_custom_schema(tmp_path, spark):
    s = Store(base_path=tmp_path / "d", cols={"PRICE": float, "QTY": int}, index="TS", spark=spark)
    df = pd.DataFrame(
        {"price": [1.5, 2.5], "qty": [10, 20]},
        index=pd.DatetimeIndex(["2024-01-01", "2024-01-02"], name="ts"),
    )
    s["ITEM1"] = df
    out = s["ITEM1"][:]
    assert list(out.columns) == ["PRICE", "QTY"]
    assert out.index.name == "TS"


def test_spark_df_input_and_lazy_read(store, spark, ohlcv_data):
    pdf = ohlcv_data.head(50).reset_index().rename(columns={"Date": "DATE"})
    sdf = spark.createDataFrame(pdf)
    store["SPARKIN"] = sdf
    lazy = store["SPARKIN"].df(datetime(1986, 1, 1), datetime(1987, 1, 1))
    assert lazy.count() == len(ohlcv_data.head(50).loc[:"1987-01-01"])


def test_read_multi(store, ohlcv_data):
    store["A"] = ohlcv_data.head(5)
    store["B"] = ohlcv_data.head(7)
    out = store.read_multi()
    assert out.count() == 12
    assert set(r["KEY"] for r in out.select("KEY").distinct().collect()) == {"A", "B"}


def test_uncastable_pandas_raises_schema_error(store, ohlcv_data):
    bad = ohlcv_data.head(5).copy()
    bad["Volume"] = ["x", "y", "z", "w", "v"]
    with pytest.raises(SchemaError):
        store["BAD"] = bad


def test_uncastable_spark_raises_at_action(store, mstore, spark):
    """The guarded cast fails the create at action time under both
    protocols, and the failed create leaves no key behind: it is not
    listed, and a valid retry creates it."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "DATE": pd.to_datetime(["2024-01-01"]),
            "OPEN": [1.0], "HIGH": [1.0], "LOW": [1.0], "CLOSE": [1.0],
            "VOLUME": ["not_a_number"],
        }
    )
    for s in (store, mstore):
        with pytest.raises(Exception, match="SchemaError"):
            s["BAD2"] = spark.createDataFrame(pdf)
        assert "BAD2" not in s.keys()
        s["BAD2"] = spark.createDataFrame(pdf.assign(VOLUME=[7]))
        assert list(s["BAD2"][:]["VOLUME"]) == [7]


def test_append_prunes_untouched_partitions(store, tmp_path):
    """Appending 2021 data must not rewrite the 2020 partition files."""
    import os

    idx = pd.date_range("2020-06-01", periods=400, freq="D")  # spans 2020+2021
    df = pd.DataFrame(
        {
            "Open": np.arange(400.0),
            "High": np.arange(400.0),
            "Low": np.arange(400.0),
            "Close": np.arange(400.0),
            "Volume": np.arange(400),
        },
        index=idx,
    )
    store["PART"] = df
    item_dir = store._item_path("PART")
    files_2020 = sorted((item_dir / "_oak_year=2020").rglob("*.parquet"))
    before = {str(f): (f.stat().st_mtime_ns, f.stat().st_ino) for f in files_2020}
    assert before

    extra = pd.DataFrame(
        {
            "Open": [1.0], "High": [1.0], "Low": [1.0], "Close": [1.0], "Volume": [1],
        },
        index=pd.DatetimeIndex([pd.Timestamp("2021-12-01")]),
    )
    store["PART"] += extra
    after = {str(f): (f.stat().st_mtime_ns, f.stat().st_ino)
             for f in sorted((item_dir / "_oak_year=2020").rglob("*.parquet"))}
    assert after == before  # 2020 partition untouched, byte-for-byte same files
    out = store["PART"][:]
    assert len(out) == 401
    assert out.loc[pd.Timestamp("2021-12-01")]["OPEN"] == 1.0


def test_append_new_year_partition(store):
    idx = pd.date_range("2020-01-01", periods=10, freq="D")
    df = pd.DataFrame(
        {"Open": np.ones(10), "High": np.ones(10), "Low": np.ones(10),
         "Close": np.ones(10), "Volume": np.ones(10, dtype=int)},
        index=idx,
    )
    store["NY"] = df
    later = df.copy()
    later.index = idx + pd.DateOffset(years=5)
    store["NY"] += later
    assert len(store["NY"][:]) == 20


def test_compact_merges_small_files(store, monkeypatch):
    """Fragmentation comes from the per-file record cap splitting large
    writes (appends self-compact the partitions they touch); shrink the
    cap to force many small files, then compact must merge them."""
    import oakstore_spark.store as store_mod

    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 10)
    idx = pd.date_range("2020-01-01", periods=60, freq="D")
    df = pd.DataFrame(
        {"Open": np.arange(60.0), "High": np.ones(60), "Low": np.ones(60),
         "Close": np.ones(60), "Volume": np.ones(60, dtype=int)},
        index=idx,
    )
    store["CMP"] = df
    part = store._item_path("CMP") / "_oak_year=2020"
    before_files = len(list(part.glob("*.parquet")))
    assert before_files > 2  # 60 rows / 10-row cap
    pre = store["CMP"][:]

    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 1_000_000)
    n = store.compact("CMP")
    assert n == 1
    after_files = len(list(part.glob("*.parquet")))
    assert after_files < before_files
    post = store["CMP"][:]
    pd.testing.assert_frame_equal(pre, post)  # data identical
    assert store.compact("CMP") == 0  # already compact -> no-op


def test_stats_and_delete(store):
    idx = pd.date_range("2021-01-01", periods=30, freq="D")
    df = pd.DataFrame(
        {"Open": np.arange(30.0), "High": np.ones(30), "Low": np.ones(30),
         "Close": np.ones(30), "Volume": np.ones(30, dtype=int)},
        index=idx,
    )
    store["STAT"] = df
    st = store.stats("STAT")
    assert st["key"] == "STAT" and st["rows"] == 30
    assert st["min_ts"] == pd.Timestamp("2021-01-01")
    assert st["max_ts"] == pd.Timestamp("2021-01-30")
    assert st["partitions"] == 1 and st["files"] >= 1

    store.delete("STAT")
    assert "STAT" not in store.keys()
    with pytest.raises(ValueError):
        store.stats("STAT")
    with pytest.raises(ValueError):
        store.delete("STAT")


# -- manifest commit protocol (EXT: object-storage-safe commits) ----------

@pytest.fixture
def mstore(tmp_path, spark):
    from oakstore_spark import Store

    return Store(base_path=tmp_path / "mdata", spark=spark, commit_protocol="manifest")


def test_manifest_write_read_append_parity(mstore, store, ohlcv_data):
    """The manifest protocol must be observationally identical to the
    rename protocol: same rows, same dedup semantics, same slices."""
    for s in (mstore, store):
        s["MSFT"] = ohlcv_data.head(100)
        s["MSFT"] += ohlcv_data.head(150)  # 100 overlap (old wins) + 50 new
    a = mstore["MSFT"][:]
    b = store["MSFT"][:]
    pd.testing.assert_frame_equal(a, b)
    lo, hi = ohlcv_data.index[10], ohlcv_data.index[60]
    pd.testing.assert_frame_equal(mstore["MSFT"][lo:hi], store["MSFT"][lo:hi])


def test_manifest_commit_is_single_object(mstore):
    """Append must publish exactly ONE new manifest file and leave every
    pre-existing data file byte-identical (no renames, no rewrites) —
    the property that makes the commit atomic on object storage."""
    idx = pd.date_range("2020-06-01", periods=400, freq="D")  # 2020+2021
    df = pd.DataFrame(
        {"Open": np.arange(400.0), "High": np.arange(400.0), "Low": np.arange(400.0),
         "Close": np.arange(400.0), "Volume": np.arange(400)},
        index=idx,
    )
    mstore["PART"] = df
    item = mstore._item_path("PART")
    manifests = sorted((item / "_manifests").glob("v*.json"))
    assert len(manifests) == 1
    data_files = {str(f): f.stat().st_mtime_ns for f in item.rglob("*.parquet")}

    extra = pd.DataFrame(
        {"Open": [1.0], "High": [1.0], "Low": [1.0], "Close": [1.0], "Volume": [1]},
        index=pd.DatetimeIndex([pd.Timestamp("2021-12-01")]),
    )
    mstore["PART"] += extra

    manifests2 = sorted((item / "_manifests").glob("v*.json"))
    assert len(manifests2) == 2  # one new commit object
    after = {str(f): f.stat().st_mtime_ns for f in item.rglob("*.parquet")}
    for f, m in data_files.items():
        assert after[f] == m  # all old files still present, untouched
    out = mstore["PART"][:]
    assert len(out) == 401
    assert out.loc[pd.Timestamp("2021-12-01")]["OPEN"] == 1.0


def test_manifest_uncommitted_generation_invisible(mstore):
    """A data generation without a manifest commit (a crashed writer)
    must be invisible to readers — the manifest IS the truth."""
    idx = pd.date_range("2022-01-01", periods=10, freq="D")
    df = pd.DataFrame(
        {"Open": np.ones(10), "High": np.ones(10), "Low": np.ones(10),
         "Close": np.ones(10), "Volume": np.ones(10, dtype=int)},
        index=idx,
    )
    mstore["CR"] = df
    # simulate a crashed writer: a new generation lands, no commit
    stray = df.copy(); stray["Open"] = 777.0
    mstore._write_generation(mstore._item_path("CR"), mstore._normalize(stray))
    out = mstore["CR"][:]
    assert len(out) == 10
    assert (out["OPEN"].to_numpy() == 1.0).all()  # stray data not visible


def test_manifest_vacuum_removes_superseded(mstore, ohlcv_data):
    mstore["V"] = ohlcv_data.head(50)
    mstore["V"] += ohlcv_data.head(80)  # supersedes the touched years
    item = mstore._item_path("V")
    pre = mstore["V"][:]
    removed = mstore.vacuum("V", retention_sec=0)
    assert removed >= 1  # old year dirs gone
    assert len(sorted((item / "_manifests").glob("v*.json"))) == 1  # latest only
    pd.testing.assert_frame_equal(mstore["V"][:], pre)  # data unchanged
    assert mstore.vacuum("V", retention_sec=0) == 0  # idempotent


def test_manifest_compact_and_stats(mstore, monkeypatch):
    import oakstore_spark.store as store_mod

    idx = pd.date_range("2021-01-01", periods=30, freq="D")
    df = pd.DataFrame(
        {"Open": np.arange(30.0), "High": np.ones(30), "Low": np.ones(30),
         "Close": np.ones(30), "Volume": np.ones(30, dtype=int)},
        index=idx,
    )
    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 7)
    mstore["CMP"] = df
    for i in range(3):
        chunk = df.iloc[i * 10 : (i + 1) * 10].copy()
        chunk.index = chunk.index + pd.Timedelta(days=180 + i)
        mstore["CMP"] += chunk
    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 1_000_000)
    st = mstore.stats("CMP")
    assert st["rows"] == 60 and st["partitions"] >= 1
    pre = mstore["CMP"][:]
    n = mstore.compact("CMP")
    assert n >= 1
    pd.testing.assert_frame_equal(mstore["CMP"][:], pre)
    st2 = mstore.stats("CMP")
    assert st2["files"] < st["files"]
    mstore.vacuum("CMP", retention_sec=0)
    pd.testing.assert_frame_equal(mstore["CMP"][:], pre)


def test_manifest_autodetect_cross_instance(mstore, tmp_path, spark, ohlcv_data):
    """A default-protocol Store instance opening the same base path must
    read and append manifest items correctly (items self-describe)."""
    from oakstore_spark import Store

    mstore["X"] = ohlcv_data.head(20)
    plain = Store(base_path=tmp_path / "mdata", spark=spark)  # default rename
    assert len(plain["X"][:]) == 20
    plain["X"] += ohlcv_data.head(30)
    assert len(plain["X"][:]) == 30
    item = mstore._item_path("X")
    assert len(sorted((item / "_manifests").glob("v*.json"))) == 2


def test_manifest_commit_put_if_absent(mstore, ohlcv_data):
    """Two writers racing to publish the same manifest version: the
    second publish must fail loudly (ConcurrentCommitError), never
    silently replace the winner's commit (Delta put-if-absent rule)."""
    from oakstore_spark.errors import ConcurrentCommitError

    mstore["RACE"] = ohlcv_data.head(20)
    item = mstore._item_path("RACE")
    v, years = mstore._latest_manifest(item)
    # writer A wins version v+1
    mstore._commit_manifest(item, v + 1, years)
    # writer B read version v too and tries to publish the same v+1
    with pytest.raises(ConcurrentCommitError):
        mstore._commit_manifest(item, v + 1, years)
    # loser's temp staging must not linger
    assert not list((item / "_manifests").glob(".*.tmp"))


def test_vacuum_retention_protects_inflight_writer(mstore, ohlcv_data):
    """An uncommitted generation (writer mid-commit, or crashed moments
    ago) is younger than the retention horizon -> vacuum must keep it;
    retention_sec=0 (offline maintenance) removes it."""
    mstore["INF"] = ohlcv_data.head(20)
    item = mstore._item_path("INF")
    stray = ohlcv_data.head(10).copy()
    mstore._write_generation(item, mstore._normalize(stray))
    n_gens = len(list((item / "_data").iterdir()))
    assert mstore.vacuum("INF") == 0  # default retention: kept
    assert len(list((item / "_data").iterdir())) == n_gens
    assert mstore.vacuum("INF", retention_sec=0) >= 1  # offline: removed
    out = mstore["INF"][:]
    assert len(out) == 20  # committed data intact


def test_vacuum_cleans_marker_debris(mstore, ohlcv_data):
    """Superseded generation dirs hold only _SUCCESS/.crc markers after
    their year dirs are removed — vacuum must delete the markers and the
    empty generation dir (r2 left them forever), plus stale manifest
    .tmp files."""
    mstore["DEB"] = ohlcv_data.head(50)
    mstore["DEB"] += ohlcv_data.head(80)
    item = mstore._item_path("DEB")
    # a crashed commit's staging file, old enough to be past retention
    stale = item / "_manifests" / ".v99999999.json.deadbeef.tmp"
    stale.write_text("{}")
    os.utime(stale, (time.time() - 7200, time.time() - 7200))
    assert mstore.vacuum("DEB", retention_sec=0) >= 1
    live_gens = {
        p.split("/", 2)[1]
        for p in mstore._latest_manifest(item)[1].values()
    }
    on_disk = {d.name for d in (item / "_data").iterdir()}
    assert on_disk == live_gens  # no empty superseded gen dirs remain
    assert not list((item / "_manifests").glob(".*.tmp"))


def test_manifest_time_travel(mstore, ohlcv_data):
    """snapshot(key, v) must reproduce the item exactly as of manifest
    version v; vacuum retires old versions from the history."""
    mstore["TT"] = ohlcv_data.head(50)
    v1 = mstore["TT"][:]
    mstore["TT"] += ohlcv_data.head(80)
    assert mstore.versions("TT") == [1, 2]
    snap1 = mstore.snapshot("TT", 1).toPandas()
    assert len(snap1) == 50
    pd.testing.assert_frame_equal(
        snap1.set_index("DATE"), v1, check_freq=False, check_names=False
    )
    assert mstore.snapshot("TT", 2).count() == 80
    with pytest.raises(ValueError, match="no version 9"):
        mstore.snapshot("TT", 9)
    mstore.vacuum("TT", retention_sec=0)
    assert mstore.versions("TT") == [2]
    with pytest.raises(ValueError, match="no version 1"):
        mstore.snapshot("TT", 1)


def test_manifest_diff_cdc(mstore, ohlcv_data):
    """diff(v1, v2) returns exactly the rows inserted between the two
    versions (CDC over the manifest history)."""
    mstore["CDC"] = ohlcv_data.head(50)
    mstore["CDC"] += ohlcv_data.head(80)  # +30 new index keys
    d = mstore.diff("CDC", 1, 2).toPandas()
    assert len(d) == 30
    expected = ohlcv_data.iloc[50:80]
    assert set(d["DATE"]) == set(expected.index)
    assert mstore.diff("CDC", 2, 2).count() == 0
    with pytest.raises(ValueError, match="no version 7"):
        mstore.diff("CDC", 1, 7)


def test_manifest_append_retries_on_commit_race(mstore, ohlcv_data, monkeypatch):
    """A racing writer steals the manifest version our append targeted:
    the append must re-read the NEW latest manifest, recompute the
    dedup against it, and publish the next version — not fail, and not
    clobber the winner (optimistic concurrency with retry)."""
    import json

    mstore["RA"] = ohlcv_data.head(50)
    real_commit = Store._commit_manifest
    stolen = {"done": False}

    def racing_commit(self, path, version, years, *args, **kwargs):
        if not stolen["done"]:
            stolen["done"] = True
            prev = json.loads(
                (path / "_manifests" / f"v{version - 1:08d}.json").read_text()
            )["years"]
            real_commit(self, path, version, prev)  # the other writer wins
        return real_commit(self, path, version, years, *args, **kwargs)

    monkeypatch.setattr(Store, "_commit_manifest", racing_commit)
    mstore["RA"] += ohlcv_data.head(80)
    assert mstore.versions("RA") == [1, 2, 3]  # v2 = winner, v3 = our retry
    assert len(mstore["RA"][:]) == 80  # all rows present after the retry


def test_manifest_diff_ignores_compaction(mstore, ohlcv_data, monkeypatch):
    """Compaction rewrites year partitions without changing content —
    CDC must report zero inserted rows across a compact-only version."""
    import oakstore_spark.store as store_mod

    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 7)
    mstore["CMP2"] = ohlcv_data.head(30)
    mstore["CMP2"] += ohlcv_data.head(60)
    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 1_000_000)
    v_before = max(mstore.versions("CMP2"))
    assert mstore.compact("CMP2") >= 1
    v_after = max(mstore.versions("CMP2"))
    assert v_after == v_before + 1
    assert mstore.diff("CMP2", v_before, v_after).count() == 0


def test_schema_evolution_add_column(tmp_path, spark, ohlcv_data):
    """add_column is metadata-only: old files read back with the
    default, new appends may omit or provide the column, compaction
    materializes it, and a reopened instance sees the evolved schema."""
    base = tmp_path / "evolve"
    s = Store(base_path=base, spark=spark)
    s["E"] = ohlcv_data.head(50)

    s.add_column("SPLIT_FACTOR", float, 1.0)
    out = s["E"][:]
    assert "SPLIT_FACTOR" in out.columns
    assert (out["SPLIT_FACTOR"] == 1.0).all()  # pre-evolution rows filled

    # append WITHOUT the new column -> default fills it
    s["E"] += ohlcv_data.head(60)
    # append WITH the new column -> provided values win
    extra = ohlcv_data.iloc[60:70].copy()
    extra["Split_Factor"] = 2.0
    s["E"] += extra
    out = s["E"][:]
    assert len(out) == 70
    assert (out["SPLIT_FACTOR"].iloc[:60] == 1.0).all()
    assert (out["SPLIT_FACTOR"].iloc[60:] == 2.0).all()

    # range query + lazy scan also carry the evolved column
    lazy = s["E"].df()
    assert "SPLIT_FACTOR" in lazy.columns

    # reopened instance loads the evolved schema from JSON
    s2 = Store(base_path=base, spark=spark)
    assert "SPLIT_FACTOR" in s2._metadata.column_schema
    assert s2._metadata.defaults["SPLIT_FACTOR"] == 1.0
    assert len(s2["E"][:]) == 70

    # duplicate add refused
    with pytest.raises(SchemaError):
        s.add_column("split_factor", float, 3.0)


def test_schema_evolution_manifest_and_snapshot(tmp_path, spark, ohlcv_data):
    """Evolution composes with the manifest protocol: snapshots of
    pre-evolution versions read with the default; diff stays exact."""
    base = tmp_path / "evolve_m"
    s = Store(base_path=base, spark=spark, commit_protocol="manifest")
    s["M"] = ohlcv_data.head(50)
    s.add_column("ADJ", float, 0.0)
    s["M"] += ohlcv_data.head(80)
    snap1 = s.snapshot("M", 1).toPandas()
    assert (snap1["ADJ"] == 0.0).all() and len(snap1) == 50
    d = s.diff("M", 1, 2)
    assert d.count() == 30
    assert "ADJ" in d.columns


def test_vacuum_cleans_crashed_rename_staging(store, ohlcv_data):
    """A writer that crashed mid-append leaves .tmp-/.trash- staging
    dirs; vacuum removes them past the retention horizon and leaves
    fresh ones (possible in-flight writers) alone."""
    store["VC"] = ohlcv_data.head(10)
    stale_tmp = store._items_path / ".tmp-VC-deadbeef"
    stale_trash = store._items_path / ".trash-VC-deadbeef"
    fresh_tmp = store._items_path / ".tmp-VC-cafebabe"
    other_key = store._items_path / ".tmp-VC-X-deadbeef"  # key VC-X's
    for d in (stale_tmp, stale_trash, fresh_tmp, other_key):
        d.mkdir()
    old = time.time() - 7200
    for d in (stale_tmp, stale_trash, other_key):
        os.utime(d, (old, old))
    assert store.vacuum("VC") == 2  # default retention removes only stale
    assert not stale_tmp.exists() and not stale_trash.exists()
    assert fresh_tmp.exists()  # possible in-flight writer: kept
    assert other_key.exists()  # another key's staging is not VC's
    assert store.vacuum("VC", retention_sec=0) == 1  # offline: fresh too
    assert len(store["VC"][:]) == 10


@pytest.mark.parametrize("crash_at", [1, 2])
@pytest.mark.parametrize("recovery", ["vacuum", "append"])
def test_rename_swap_cut_short_is_completed(store, monkeypatch, crash_at, recovery):
    """A rename-protocol publish that crashes before its first rename, or
    after moving a live year dir out and before moving its replacement
    in, loses nothing: vacuum completes the journaled swap instead of
    deleting its staging, and so does the next mutation of the item
    before it resolves the live years (the caller's retry)."""
    idx = pd.date_range("2020-06-01", periods=400, freq="D")  # 2020+2021
    df = pd.DataFrame(
        {"Open": np.arange(400.0), "High": np.arange(400.0), "Low": np.arange(400.0),
         "Close": np.arange(400.0), "Volume": np.arange(400)},
        index=idx,
    )
    store["SWP"] = df

    def bar(day, value):
        return pd.DataFrame(
            {"Open": [value], "High": [value], "Low": [value], "Close": [value],
             "Volume": [1]},
            index=pd.DatetimeIndex([pd.Timestamp(day)]),
        )

    real_rename = os.rename
    calls = []

    def rename_crashing(src, dst, *a, **kw):
        calls.append(src)
        if len(calls) == crash_at:
            raise OSError("crash mid-swap")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", rename_crashing)
    with pytest.raises(OSError, match="crash mid-swap"):
        store["SWP"] += bar("2021-12-01", 1.0)
    monkeypatch.setattr(os, "rename", real_rename)

    expected = 401
    if recovery == "append":
        store["SWP"] += bar("2021-12-02", 2.0)
        expected = 402
    store.vacuum("SWP", retention_sec=0)
    out = store["SWP"][:]
    assert len(out) == expected
    assert out.loc[pd.Timestamp("2021-12-01")]["OPEN"] == 1.0
    assert store.fsck("SWP")["ok"]
    assert not list(store._items_path.glob(".*-SWP-*"))


def test_finish_swap_refuses_a_year_published_after_its_plan(tmp_path, monkeypatch):
    """Replaying a half-done swap over a year dir that a later publish put
    in place would drop that publish's rows: finish_swap raises instead,
    and the later dir stays live."""
    from oakstore_spark import item_format

    item, stage = tmp_path / "K", tmp_path / ".tmp-K-0a"
    (item / "_oak_year=2020").mkdir(parents=True)
    (stage / "_oak_year=2020").mkdir(parents=True)
    (stage / "_oak_year=2020" / "staged.parquet").write_text("staged")

    def crash(*a, **kw):
        raise OSError("crash before the first rename")

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError, match="first rename"):
        item_format.swap_in(item, stage, ["2020"])
    monkeypatch.undo()
    # a later publish replaces the year dir the plan saw
    (item / "_oak_year=2020").rename(tmp_path / "gone")
    (item / "_oak_year=2020").mkdir()
    (item / "_oak_year=2020" / "later.parquet").write_text("later")
    with pytest.raises(RuntimeError, match="replaced after the swap was planned"):
        item_format.finish_swap(item, stage)
    assert [f.name for f in (item / "_oak_year=2020").iterdir()] == ["later.parquet"]
    assert (stage / "_oak_year=2020" / "staged.parquet").exists()


@pytest.mark.parametrize("proto", ["rename", "manifest"])
@pytest.mark.parametrize("op", ["append", "compact", "delete_where"])
def test_staged_but_unpublished_mutation_is_invisible(
    tmp_path, spark, ohlcv_data, monkeypatch, proto, op
):
    """A mutation that stages its replacement but never publishes it (a
    crash between the two steps) changes nothing a reader sees, and
    vacuum returns the store's Parquet bytes to the pre-op total."""
    import oakstore_spark.store as store_mod

    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 50)
    base = tmp_path / proto
    s = Store(base_path=base, spark=spark, commit_protocol=proto)
    s["SP"] = ohlcv_data.head(200)
    pre = s["SP"][:]

    def parquet_bytes():
        return sum(f.stat().st_size for f in base.rglob("*.parquet"))

    pre_bytes = parquet_bytes()

    def crash(*a, **kw):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(Store, "_publish", crash)
    mutate = {
        "append": lambda: s["SP"].__iadd__(ohlcv_data.iloc[150:250]),
        "compact": lambda: s.compact("SP", min_files_per_partition=0),
        # hits only the first file: the others are linked into the stage
        "delete_where": lambda: s.delete_where("SP", f"DATE <= TIMESTAMP '{pre.index[5]}'"),
    }[op]
    with pytest.raises(RuntimeError, match="before publish"):
        mutate()
    assert parquet_bytes() > pre_bytes  # the replacement was staged
    pd.testing.assert_frame_equal(s["SP"][:], pre)
    assert s.fsck("SP")["ok"]
    s.vacuum("SP", retention_sec=0)
    assert parquet_bytes() == pre_bytes
    pd.testing.assert_frame_equal(s["SP"][:], pre)


def test_manifest_history_log(mstore, ohlcv_data, monkeypatch):
    """history() is the commit log: one entry per surviving version with
    its operation; vacuum trims it with the versions."""
    import oakstore_spark.store as store_mod

    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 7)
    mstore["H"] = ohlcv_data.head(30)
    mstore["H"] += ohlcv_data.head(60)
    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 1_000_000)
    mstore.compact("H")
    ops = [h["operation"] for h in mstore.history("H")]
    assert ops == ["write", "append", "compact"]
    assert all(h["committed_at"] > 0 and h["n_years"] >= 1 for h in mstore.history("H"))
    mstore.vacuum("H", retention_sec=0)
    assert [h["version"] for h in mstore.history("H")] == [3]


def test_compact_cluster_by_tightens_file_stats(store, monkeypatch):
    """cluster_by rewrites files sorted by the value column: per-file
    CLOSE ranges shrink from each-file-spans-everything to a partition
    of the value space (the stat tightening that lets value-predicate
    scans skip files)."""
    import pyarrow.parquet as pq

    import oakstore_spark.store as store_mod

    rng = np.random.default_rng(5)
    idx = pd.date_range("2022-01-01", periods=300, freq="D")
    df = pd.DataFrame(
        {"Open": np.ones(300), "High": np.ones(300), "Low": np.ones(300),
         "Close": rng.permutation(300).astype(float),
         "Volume": np.ones(300, dtype=int)},
        index=idx,
    )
    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 60)
    store["CLU"] = df

    def close_width_sum():
        item = store._item_path("CLU")
        total, n = 0.0, 0
        for f in sorted(item.rglob("*.parquet")):
            md = pq.read_metadata(f)
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index("CLOSE")
            lo = min(md.row_group(i).column(ci).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(ci).statistics.max
                     for i in range(md.num_row_groups))
            total += hi - lo
            n += 1
        return total, n

    before, n_files = close_width_sum()
    assert n_files >= 4  # the 60-row cap actually split files
    pre = store["CLU"][:]
    assert store.compact("CLU", cluster_by=["close"]) >= 1
    after, n_after = close_width_sum()
    assert n_after >= 4
    # date-sorted files each span ~the full CLOSE range; clustered files
    # partition it -> summed width drops by at least 2x
    assert after < before / 2, (before, after)
    pd.testing.assert_frame_equal(store["CLU"][:], pre)  # content unchanged
    with pytest.raises(SchemaError):
        store.compact("CLU", cluster_by=["nope"])


def test_manifest_reader_never_sees_torn_state(mstore, ohlcv_data):
    """Readers racing a mid-flight append must observe either the old
    or the new committed version — never a partial write (the manifest
    is the single commit point)."""
    import threading

    mstore["TORN"] = ohlcv_data.head(50)
    observed = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            observed.append(len(mstore["TORN"][:]))

    t = threading.Thread(target=reader)
    t.start()
    try:
        mstore["TORN"] += ohlcv_data.head(80)
        mstore["TORN"] += ohlcv_data.head(110)
    finally:
        stop.set()
        t.join(30)
    assert set(observed) <= {50, 80, 110}, sorted(set(observed))
    assert len(observed) >= 3  # the reader actually raced the appends


def test_fsck_detects_deleted_live_files(mstore, store, ohlcv_data):
    """fsck is green on a healthy item and flags a live year dir whose
    parquet files were deleted out from under the manifest."""
    import shutil as _shutil

    mstore["FS"] = ohlcv_data.head(50)
    assert mstore.fsck("FS") == {"ok": True, "missing": [], "years_checked": 1}
    _, mapping = mstore._latest_manifest(mstore._item_path("FS"))
    victim = mstore._item_path("FS") / next(iter(mapping.values()))
    for f in victim.glob("*.parquet"):
        f.unlink()
    rep = mstore.fsck("FS")
    assert not rep["ok"] and rep["missing"] == [str(victim)]

    store["FS2"] = ohlcv_data.head(30)
    assert store.fsck("FS2")["ok"]
    ydir = next(store._item_path("FS2").glob("_oak_year=*"))
    for f in ydir.glob("*.parquet"):
        f.unlink()
    assert not store.fsck("FS2")["ok"]


def test_manifest_restore_rolls_back(mstore, ohlcv_data):
    """restore() re-publishes an old version's mapping as the new
    latest (metadata-only rollback); vacuum keeps the restored data."""
    mstore["RB"] = ohlcv_data.head(50)
    mstore["RB"] += ohlcv_data.head(80)
    assert len(mstore["RB"][:]) == 80
    new_v = mstore.restore("RB", 1)
    assert new_v == 3
    assert len(mstore["RB"][:]) == 50  # rolled back
    ops = [h["operation"] for h in mstore.history("RB")]
    assert ops == ["write", "append", "restore"]
    mstore.vacuum("RB", retention_sec=0)
    assert len(mstore["RB"][:]) == 50  # restored generation survived
    with pytest.raises(ValueError, match="no version 9"):
        mstore.restore("RB", 9)


def test_upsert_new_wins(store, mstore, ohlcv_data):
    """upsert replaces colliding index rows with the incoming values
    (new wins) under both protocols; append still keeps old."""
    for s in (store, mstore):
        s["UP"] = ohlcv_data.head(10)
        fix = ohlcv_data.head(3).copy()
        fix["Close"] = 777.0
        s.upsert("UP", fix)
        out = s["UP"][:]
        assert len(out) == 10
        assert (out["CLOSE"].head(3) == 777.0).all()  # corrected
        assert (out["CLOSE"].iloc[3:] != 777.0).all()  # untouched
        s["UP"] += fix.assign(Close=111.0)  # append: old (corrected) wins
        assert (s["UP"][:]["CLOSE"].head(3) == 777.0).all()


def test_delete_range_inclusive_and_pruned(store, mstore, ohlcv_data):
    """delete_range removes exactly the inclusive window under both
    protocols; untouched years keep their files (rename protocol), and
    manifest history records the delete."""
    import os as _os

    data = ohlcv_data.head(600)  # spans ~1986-1988
    for s in (store, mstore):
        s["DR"] = data
        lo = data.index[100].to_pydatetime()
        hi = data.index[199].to_pydatetime()
        n = s.delete_range("DR", lo, hi)
        assert n == 100
        out = s["DR"][:]
        assert len(out) == 500
        assert not ((out.index >= lo) & (out.index <= hi)).any()
        assert s.delete_range("DR", lo, hi) == 0  # idempotent

    # rename protocol: a year fully outside the range is untouched
    item = store._item_path("DR")
    late_year = sorted(item.glob("_oak_year=*"))[-1]
    before = {f.name: f.stat().st_mtime_ns for f in late_year.glob("*.parquet")}
    lo2 = data.index[0].to_pydatetime()
    store.delete_range("DR", lo2, lo2)
    after = {f.name: f.stat().st_mtime_ns for f in late_year.glob("*.parquet")}
    assert before == after

    assert [h["operation"] for h in mstore.history("DR")][-1] == "delete"
    # time travel still sees the pre-delete rows
    assert mstore.snapshot("DR", 1).count() == 600


def test_compact_zorder_prunes_boxes_better_than_linear(store, monkeypatch):
    """Z-order vs linear multi-column clustering: for a conjunctive box
    predicate on (HIGH, VOLUME), linear cluster_by=['high','volume']
    gives VOLUME no locality (every file spans its full range), so all
    files in the HIGH slice overlap the box; the Morton layout tiles
    both dimensions, so at most a few tiles overlap. Counted directly
    from parquet footer min/max stats."""
    import pyarrow.parquet as pq

    import oakstore_spark.store as store_mod

    rng = np.random.default_rng(11)
    n = 1600
    idx = pd.date_range("2022-01-01", periods=n, freq="h")
    df = pd.DataFrame(
        {
            "Open": np.ones(n),
            "High": rng.uniform(0.0, 100.0, n),
            "Low": np.ones(n),
            "Close": np.ones(n),
            "Volume": rng.integers(0, 100_000, n),
        },
        index=idx,
    )
    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 100)
    store["ZORD"] = df
    pre = store["ZORD"][:]

    def overlapping_files(h_lo, h_hi, v_lo, v_hi):
        item = store._item_path("ZORD")
        hit, total = 0, 0
        for f in sorted(item.rglob("*.parquet")):
            md = pq.read_metadata(f)
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            hi_i, vo_i = names.index("HIGH"), names.index("VOLUME")
            h0 = min(md.row_group(i).column(hi_i).statistics.min
                     for i in range(md.num_row_groups))
            h1 = max(md.row_group(i).column(hi_i).statistics.max
                     for i in range(md.num_row_groups))
            v0 = min(md.row_group(i).column(vo_i).statistics.min
                     for i in range(md.num_row_groups))
            v1 = max(md.row_group(i).column(vo_i).statistics.max
                     for i in range(md.num_row_groups))
            total += 1
            if h1 >= h_lo and h0 <= h_hi and v1 >= v_lo and v0 <= v_hi:
                hit += 1
        return hit, total

    box = (0.0, 25.0, 0, 25_000)  # lowest quarter of both dimensions

    assert store.compact("ZORD", cluster_by=["high", "volume"]) >= 1
    linear_hit, linear_total = overlapping_files(*box)
    assert linear_total >= 8

    assert store.compact("ZORD", cluster_by=["high", "volume"], zorder=True) >= 1
    z_hit, z_total = overlapping_files(*box)
    assert z_total >= 8
    # the curve must beat the linear layout decisively on the 2-D box
    assert z_hit * 2 <= linear_hit, (z_hit, linear_hit)
    pd.testing.assert_frame_equal(store["ZORD"][:], pre)  # content unchanged

    with pytest.raises(ValueError):
        store.compact("ZORD", zorder=True)  # needs cluster_by


def test_item_resample_matches_pandas(store, ohlcv_data):
    """Item.resample('month') must agree with pandas' resample using the
    same OHLCV semantics (open=first, high=max, low=min, close=last,
    volume=sum) on the stored data."""
    store["RSMP"] = ohlcv_data
    got = (
        store["RSMP"].resample("month").toPandas().set_index("DATE").sort_index()
    )
    exp = ohlcv_data.resample("MS").agg(
        {"Open": "first", "High": "max", "Low": "min", "Close": "last",
         "Volume": "sum"}
    )
    exp = exp.dropna()  # months with no business days at the edges
    assert len(got) == len(exp)
    np.testing.assert_allclose(got["OPEN"].to_numpy(), exp["Open"].to_numpy())
    np.testing.assert_allclose(got["HIGH"].to_numpy(), exp["High"].to_numpy())
    np.testing.assert_allclose(got["LOW"].to_numpy(), exp["Low"].to_numpy())
    np.testing.assert_allclose(got["CLOSE"].to_numpy(), exp["Close"].to_numpy())
    np.testing.assert_allclose(got["VOLUME"].to_numpy(), exp["Volume"].to_numpy())


def test_store_sql_joins_items(store, ohlcv_data):
    """Store.sql registers items as named relations: a two-item join
    with an index predicate must agree with the sliced pandas data."""
    store["AAA"] = ohlcv_data
    store["BBB"] = ohlcv_data * 2.0
    out = store.sql(
        """
        SELECT a.DATE, b.CLOSE / a.CLOSE AS ratio
        FROM AAA a JOIN BBB b USING (DATE)
        WHERE a.DATE >= TIMESTAMP '2010-01-01'
        """
    ).toPandas()
    expected_rows = (ohlcv_data.index >= "2010-01-01").sum()
    assert len(out) == expected_rows
    np.testing.assert_allclose(out["ratio"].to_numpy(), 2.0)


def test_metadata_columns_expose_file_provenance(spark, store, ohlcv_data):
    """File-level lineage via the _metadata hidden columns: a
    multi-year item exposes which physical file each row came from —
    the provenance hook audits use to trace bad rows to their shard
    (file_path, not file_name: one task writing several partition dirs
    reuses the same basename)."""
    from pyspark.sql import functions as F

    store["PROV"] = ohlcv_data.iloc[:2000]  # spans multiple years
    item_path = store._item_path("PROV")
    df = spark.read.parquet(str(item_path)).select(
        "DATE", F.col("_metadata.file_path").alias("src_file")
    )
    files = df.select("src_file").distinct().count()
    assert files >= 2, "year partitioning must produce multiple files"
    # every row maps to exactly one file and counts reconcile
    assert df.count() == 2000
    per_file = df.groupBy("src_file").count().collect()
    assert sum(r["count"] for r in per_file) == 2000


def test_item_pandas_api_bridge(spark, store, ohlcv_data):
    """The pandas-on-Spark bridge: an item slice behaves like the
    reference's pandas frame (DATE index, rolling mean, column math)
    while staying distributed until materialization — the stored DATE
    column IS the index (index_col), so building the frame must not
    emit either PandasAPIOnSparkAdviceWarning path (driver-collect
    sequence index / empty-key Window distributed-sequence index)."""
    import warnings

    import pandas as pd
    from pyspark.pandas.utils import PandasAPIOnSparkAdviceWarning

    store["PSB"] = ohlcv_data.iloc[:500]
    with warnings.catch_warnings():
        warnings.simplefilter("error", PandasAPIOnSparkAdviceWarning)
        psdf = store["PSB"].pandas_api(
            pd.Timestamp("1986-06-01"), pd.Timestamp("1987-06-01")
        )
    roll = psdf["CLOSE"].rolling(5).mean()
    got = roll.to_pandas()
    ref = (
        store["PSB"][pd.Timestamp("1986-06-01"):pd.Timestamp("1987-06-01")]
        ["CLOSE"].rolling(5).mean()
    )
    assert len(got) == len(ref)
    pd.testing.assert_series_equal(
        got.sort_index(), ref.sort_index(), check_names=False,
        check_freq=False,
    )


def test_compact_while_querying_manifest(mstore, monkeypatch):
    """Delta-style OPTIMIZE-vs-readers isolation on the manifest
    protocol: compact() commits a NEW manifest version and never deletes
    the files of prior generations (only vacuum does), so (a) a lazy
    snapshot handle captured BEFORE the compaction still materializes
    bit-identical data AFTER it, (b) readers racing a compaction in
    another thread always see exactly the committed rows — no partial
    file-set is ever visible, and (c) post-compact fresh reads return
    the same data from fewer files."""
    import threading

    import oakstore_spark.store as store_mod

    idx = pd.date_range("2022-01-01", periods=60, freq="D")
    df = pd.DataFrame(
        {"Open": np.arange(60.0), "High": np.ones(60), "Low": np.ones(60),
         "Close": np.ones(60), "Volume": np.ones(60, dtype=int)},
        index=idx,
    )
    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 7)
    mstore["OPT"] = df.iloc[:20]
    for i in (1, 2):
        mstore["OPT"] += df.iloc[i * 20 : (i + 1) * 20]
    item = mstore._item_path("OPT")
    reference = mstore["OPT"][:]
    assert len(reference) == 60
    pre_version = mstore.versions("OPT")[-1]
    pre_snapshot = mstore.snapshot("OPT", pre_version)  # LAZY handle
    n_files_before = len(list(item.rglob("*.parquet")))

    # (b) readers race the compaction from another thread; every read
    # must equal the reference exactly (same rows, same values)
    errors: list[Exception] = []
    stop = threading.Event()

    def reader() -> None:
        while not stop.is_set():
            try:
                got = mstore["OPT"][:]
                pd.testing.assert_frame_equal(got, reference)
            except Exception as e:  # noqa: BLE001
                errors.append(e)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 1_000_000)
        n_compacted = mstore.compact("OPT")
        assert n_compacted >= 1
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, f"concurrent reader diverged: {errors[0]}"

    # (a) the pre-compact snapshot handle still reads the OLD generation
    pre = pre_snapshot.toPandas().set_index(mstore._metadata.index_name)
    pre.index.name = reference.index.name
    pd.testing.assert_frame_equal(pre, reference, check_freq=False)

    # (c) fresh read: same data, fewer live files in the new manifest
    pd.testing.assert_frame_equal(mstore["OPT"][:], reference)
    post_version = mstore.versions("OPT")[-1]
    assert post_version > pre_version
    live = len(mstore._manifest_paths(
        item, mstore._latest_manifest(item)[1]
    ))
    assert live < n_files_before


def test_delete_where_predicate_pruned_both_protocols(
    store, mstore, ohlcv_data, monkeypatch
):
    """r14 (r13 verdict ask #6): delete_where removes exactly the
    predicate-matching rows under both protocols; only files that
    CONTAIN matching rows are rewritten — in the rename protocol
    untouched files inside an affected year keep their inodes, fully
    untouched years keep everything; manifest history records the
    delete and time travel still sees the pre-delete rows."""
    import os as _os

    from pyspark.sql import functions as F

    import oakstore_spark.store as store_mod

    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 100)
    data = ohlcv_data.head(600)
    for s in (store, mstore):
        s["DW"] = data
        target = float(sorted(data["Volume"])[50])
        expect = int((data["Volume"] <= target).sum())
        n = s.delete_where("DW", f"VOLUME <= {target}")
        assert n == expect
        out = s["DW"][:]
        assert len(out) == 600 - expect
        assert (out["VOLUME"] > target).all()
        assert s.delete_where("DW", f"VOLUME <= {target}") == 0
        with pytest.raises(ValueError):
            s.delete_where("NOPE", "VOLUME > 0")

    # rename protocol, file-level pruning: delete ONE specific row
    # (by its exact index timestamp) — only the file holding it is
    # rewritten; sibling files in the same year and every other year
    # keep their inode + mtime
    item = store._item_path("DW")
    before = {
        str(f): (f.stat().st_ino, f.stat().st_mtime_ns)
        for f in item.glob("_oak_year=*/**/*.parquet")
    }
    surviving = store["DW"][:]
    ts = surviving.index[0]
    n = store.delete_where(
        "DW", F.col("DATE") == F.lit(ts.to_pydatetime())
    )
    assert n == 1
    after = {
        str(f): (f.stat().st_ino, f.stat().st_mtime_ns)
        for f in item.glob("_oak_year=*/**/*.parquet")
    }
    changed = {
        p for p in before
        if p not in after or after[p] != before[p]
    }
    new_files = {p for p in after if p not in before}
    # exactly the files of ONE rewritten file's worth changed: every
    # other pre-delete file survives byte/inode-identical
    untouched = set(before) & set(after)
    assert all(before[p] == after[p] for p in untouched)
    assert len(changed) <= 2 and len(new_files) <= 2
    assert len(store["DW"][:]) == len(surviving) - 1

    # manifest: history + time travel
    ops = [h["operation"] for h in mstore.history("DW")]
    assert ops[-1] == "delete"
    assert mstore.snapshot("DW", 1).count() == 600
    # column predicates compose with the index column too
    n = mstore.delete_where(
        "DW",
        f"DATE = TIMESTAMP '{mstore['DW'][:].index[0]}'",
    )
    assert n == 1


def test_delete_where_drops_emptied_years(mstore, ohlcv_data):
    """A predicate that kills EVERY row of a year drops that year from
    the manifest mapping (no empty generation dirs carried), and a
    whole-item delete leaves a readable empty item."""
    data = ohlcv_data.head(600)
    mstore["DWY"] = data
    y0 = int(data.index[0].year)
    n = mstore.delete_where("DWY", f"year(DATE) = {y0}")
    assert n == int((data.index.year == y0).sum())
    out = mstore["DWY"][:]
    assert (out.index.year != y0).all()
    _, mapping = mstore._latest_manifest(mstore._item_path("DWY"))
    assert str(y0) not in mapping
    n2 = mstore.delete_where("DWY", "VOLUME >= 0")
    assert n2 == len(out)
    assert len(mstore["DWY"][:]) == 0


def test_multi_commit_all_or_nothing_and_recovery(
    tmp_path, spark, ohlcv_data
):
    """r14 (r13 verdict ask #8): multi_commit publishes N items behind
    ONE put-if-absent txn object. Crash BEFORE the txn commit point ->
    nothing visible (staged generations are unreferenced debris).
    Crash AFTER it, mid fan-out -> the next Store open rolls the
    transaction forward and BOTH items appear (cross-instance
    visibility). Rename-protocol stores refuse."""
    from oakstore_spark import Store

    base = tmp_path / "txn_store"
    s = Store(base, spark=spark, commit_protocol="manifest")
    corpus = ohlcv_data.head(100)
    stats = ohlcv_data.head(10)

    # happy path: both appear, same txn recorded in both manifests
    txn = s.multi_commit({"CORPUS": corpus, "STATS": stats})
    assert txn == 1
    assert len(s["CORPUS"][:]) == 100 and len(s["STATS"][:]) == 10
    import json as _json
    for k in ("CORPUS", "STATS"):
        doc = _json.loads(
            sorted(
                (s._item_path(k) / "_manifests").glob("v*.json")
            )[-1].read_text()
        )
        assert doc["txn"] == "t00000001"

    # crash BEFORE the txn object lands: monkey-raise inside the
    # commit-point link -> neither item advances
    s2 = Store(base, spark=spark, commit_protocol="manifest")
    orig_apply = Store._apply_txn
    pre_versions = {k: s2.versions(k) for k in ("CORPUS", "STATS")}

    def boom_before(self, doc):  # pragma: no cover - raised in test
        raise RuntimeError("crash before txn commit")

    import os as _os
    real_link = _os.link

    def no_link(src, dst, *a, **kw):
        if "_txns" in str(dst):
            raise RuntimeError("crash before txn commit")
        return real_link(src, dst, *a, **kw)

    _os.link = no_link
    try:
        with pytest.raises(RuntimeError):
            s2.multi_commit(
                {"CORPUS": ohlcv_data.head(120), "STATS": ohlcv_data.head(20)}
            )
    finally:
        _os.link = real_link
    s3 = Store(base, spark=spark, commit_protocol="manifest")
    assert {k: s3.versions(k) for k in ("CORPUS", "STATS")} == pre_versions
    assert len(s3["CORPUS"][:]) == 100 and len(s3["STATS"][:]) == 10

    # crash AFTER the txn object lands, before the SECOND item's
    # manifest publishes: recovery on the next open applies both
    published = []
    orig_pub = Store._commit_manifest

    def crashy_pub(self, path, version, years, operation, txn):
        if len(published) == 1:
            raise RuntimeError("crash mid fan-out")
        published.append(str(path))
        return orig_pub(self, path, version, years, operation, txn)

    Store._commit_manifest = crashy_pub
    try:
        with pytest.raises(RuntimeError):
            s3.multi_commit(
                {"CORPUS": ohlcv_data.head(150), "STATS": ohlcv_data.head(30)}
            )
    finally:
        Store._commit_manifest = orig_pub
    # txn object exists; only CORPUS's manifest published so far
    s4 = Store(base, spark=spark, commit_protocol="manifest")  # recovers
    assert len(s4["CORPUS"][:]) == 150 and len(s4["STATS"][:]) == 30
    ops = [h["operation"] for h in s4.history("STATS")]
    assert ops[-1] == "multi"

    # rename protocol refuses
    r = Store(tmp_path / "ren_store", spark=spark)
    with pytest.raises(ValueError, match="manifest"):
        r.multi_commit({"A": corpus})


def test_delete_where_null_predicate_rows_survive(
    store, mstore, ohlcv_data, monkeypatch
):
    """r15 (r14 verdict "what's wrong" #1): under SQL three-valued
    logic a row where the predicate evaluates NULL matches NEITHER
    ``pred`` NOR ``~pred`` — survivors must keep rows where the
    predicate is not TRUE (``~coalesce(pred, false)``), so
    NULL-valued rows co-located in a file with true matches are
    never silently dropped, on BOTH protocols."""
    import numpy as np

    import oakstore_spark.store as store_mod

    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 50)
    data = ohlcv_data.head(300).copy()
    # every other row has NULL OPEN -> co-located with matches in
    # every data file regardless of layout
    data.iloc[::2, data.columns.get_loc("Open")] = np.nan
    n_null = int(data["Open"].isna().sum())
    n_match = len(data) - n_null
    for s in (store, mstore):
        s["DWN"] = data
        # predicate TRUE for every non-null OPEN, NULL for the rest
        n = s.delete_where("DWN", "OPEN < 1e12")
        assert n == n_match  # NULL rows are NOT counted as deleted
        out = s["DWN"][:]
        assert len(out) == n_null  # ... and NOT dropped
        assert out["OPEN"].isna().all()
        # non-null values elsewhere survive byte-identically
        kept = data[data["Open"].isna()]
        assert list(out["VOLUME"]) == list(kept["Volume"])
        # idempotent: the NULL rows still evaluate NULL, not TRUE
        assert s.delete_where("DWN", "OPEN < 1e12") == 0
        assert len(s["DWN"][:]) == n_null


def test_delete_where_noncanonical_base_path(spark, ohlcv_data, tmp_path):
    """r15 (r14 ADVICE): file identity inside delete_where compares
    (year, basename) — a store opened through a NON-CANONICAL base
    path (``x/../store``: Hadoop normalizes it inside
    ``input_file_name()`` URIs, Python Path globs keep the ``..``, so
    absolute-path string equality never matches) must still rewrite
    only affected files, not resurrect deleted rows or duplicate
    survivors."""
    from oakstore_spark import Store

    (tmp_path / "x").mkdir()
    for proto in ("rename", "manifest"):
        base = tmp_path / "x" / ".." / f"nc_{proto}"
        s = Store(base, spark=spark, commit_protocol=proto)
        data = ohlcv_data.head(200)
        s["REL"] = data
        target = float(sorted(data["Volume"])[40])
        expect = int((data["Volume"] <= target).sum())
        n = s.delete_where("REL", f"VOLUME <= {target}")
        assert n == expect
        out = s["REL"][:]
        # no resurrection, no duplication
        assert len(out) == 200 - expect
        assert out.index.is_unique
        assert (out["VOLUME"] > target).all()


def test_multi_commit_conflict_aborts_not_unopenable(
    tmp_path, spark, ohlcv_data
):
    """r15 (r14 ADVICE high): an independent single-item writer that
    claims a txn's staged manifest version must NOT leave the store
    permanently unopenable (old behavior: recover_multi_commits raised
    ConcurrentCommitError from __init__ forever) NOR silently drop the
    staged item. Recovery verifies each manifest's txn field, marks
    the txn tNNN.failed.json with a warning, and ROLLS BACK sibling
    manifests the txn did publish while they are still latest — the
    all-or-nothing contract is preserved by compensation."""
    import warnings as _warnings

    from oakstore_spark import Store

    base = tmp_path / "conflict_store"
    s = Store(base, spark=spark, commit_protocol="manifest")
    s.multi_commit({"A": ohlcv_data.head(50), "B": ohlcv_data.head(60)})
    a_before = s["A"][:]

    # txn 2: publish A's manifest, crash before B's
    published = []
    orig_pub = Store._commit_manifest

    def crashy_pub(self, path, version, years, operation, txn):
        if len(published) == 1:
            raise RuntimeError("crash mid fan-out")
        published.append(str(path))
        return orig_pub(self, path, version, years, operation, txn)

    Store._commit_manifest = crashy_pub
    try:
        with pytest.raises(RuntimeError):
            s.multi_commit(
                {"A": ohlcv_data.head(80), "B": ohlcv_data.head(90)}
            )
    finally:
        Store._commit_manifest = orig_pub

    # the independent writer claims B's next version (the one txn 2
    # staged for) through the normal single-item append path
    s["B"] += ohlcv_data.head(70)
    b_after_independent = s["B"][:]

    # next open: must NOT raise; must warn; txn marked failed; A's
    # partially-published manifest rolled back (it is still latest)
    with pytest.warns(UserWarning, match="aborted"):
        s2 = Store(base, spark=spark, commit_protocol="manifest")
    assert (base / "_txns" / "t00000002.failed.json").exists()
    assert not (base / "_txns" / "t00000002.json").exists()
    pd.testing.assert_frame_equal(
        s2["A"][:], a_before, check_like=True
    )
    pd.testing.assert_frame_equal(
        s2["B"][:], b_after_independent, check_like=True
    )

    # idempotent: subsequent opens are silent (failed txn skipped,
    # checkpoint advanced past it)
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        s3 = Store(base, spark=spark, commit_protocol="manifest")
    assert s3._txn_hwm() >= 2
    doc = json.loads(
        (base / "_txns" / "t00000002.failed.json").read_text()
    )
    assert doc["status"] == "failed"
    assert doc["item_states"]["B"] == "conflict"
    assert "A" in doc["rolled_back"]


def test_multi_commit_new_item_invisible_before_commit(
    tmp_path, spark, ohlcv_data
):
    """r15 (r14 ADVICE medium): a NEW item staged by multi_commit must
    be invisible until the txn commit point — a crash before it leaves
    no half-created key (keys() clean, reads raise does-not-exist,
    create still works) and vacuum collects the hidden staging dir."""
    import os as _os

    from oakstore_spark import Store

    base = tmp_path / "stage_store"
    s = Store(base, spark=spark, commit_protocol="manifest")
    s["SEED"] = ohlcv_data.head(10)

    real_link = _os.link

    def no_link(src, dst, *a, **kw):
        if "_txns" in str(dst):
            raise RuntimeError("crash before txn commit")
        return real_link(src, dst, *a, **kw)

    _os.link = no_link
    try:
        with pytest.raises(RuntimeError):
            s.multi_commit({"NEWK": ohlcv_data.head(40)})
    finally:
        _os.link = real_link

    # no half-created key anywhere on the surface
    assert s.keys() == ["SEED"]
    assert not (base / "items" / "NEWK").exists()
    with pytest.raises(ValueError, match="does not exist"):
        s.stats("NEWK")
    staged = list((base / "items").glob(".stage-NEWK-*"))
    assert len(staged) == 1  # debris is hidden, not a key
    # creating the key now works (no 'already exists' from debris)
    s["NEWK"] = ohlcv_data.head(5)
    assert len(s["NEWK"][:]) == 5
    # vacuum collects the staging debris once past retention
    s.vacuum("SEED", retention_sec=0.0)
    assert list((base / "items").glob(".stage-*")) == []
    # and the happy path still reveals new items atomically
    s.multi_commit({"NEWK2": ohlcv_data.head(7)})
    assert len(s["NEWK2"][:]) == 7
    assert "NEWK2" in s.keys()


def test_txn_checkpoint_gc_and_no_resurrection(
    tmp_path, spark, ohlcv_data
):
    """r15 (r14 ADVICE medium + verdict ask #7): (a) vacuum GC's txn
    objects at/below the checkpoint and skips superseded manifests
    referenced by LIVE txns only — vacuumed manifest versions must NOT
    be resurrected by the next open's recovery; (b) Store open cost
    stops growing: recovery reads only txns above the high-water mark;
    (c) txn numbering never reuses ids after GC."""
    from oakstore_spark import Store

    base = tmp_path / "ckpt_store"
    s = Store(base, spark=spark, commit_protocol="manifest")
    s.multi_commit({"K": ohlcv_data.head(30)})
    s.multi_commit({"K": ohlcv_data.head(50)})
    assert sorted(s.versions("K")) == [1, 2]

    # open advances the checkpoint over both txns
    s2 = Store(base, spark=spark, commit_protocol="manifest")
    assert s2._txn_hwm() == 2

    # vacuum: txn objects GC'd, superseded manifest v1 deleted
    s2.vacuum("K", retention_sec=0.0)
    assert list((base / "_txns").glob("t*.json")) == []
    assert s2.versions("K") == [2]

    # reopen: v1 must NOT be resurrected (old bug: recovery
    # re-published any missing manifest a txn object named)
    s3 = Store(base, spark=spark, commit_protocol="manifest")
    assert s3.versions("K") == [2]
    assert len(s3["K"][:]) == 50

    # numbering continues past GC'd ids (floor = checkpoint)
    t3 = s3.multi_commit({"K": ohlcv_data.head(60)})
    assert t3 == 3

    # recovery reads only txns above the HWM: plant a probe by
    # counting _txn_item_states calls on a fresh open
    calls = []
    orig_states = Store._txn_item_states

    def probe(self, doc):
        calls.append(doc["txn"])
        return orig_states(self, doc)

    Store._txn_item_states = probe
    try:
        Store(base, spark=spark, commit_protocol="manifest")
    finally:
        Store._txn_item_states = orig_states
    assert calls == ["t00000003"]  # t1/t2 behind the checkpoint


def test_schema_evolution_rename_drop(tmp_path, spark, ohlcv_data):
    """r15 (r14 verdict ask #6): metadata-only column RENAME and DROP.
    Rename: no file rewritten (inodes stable), reads/writes/predicates
    speak the new name over the original bytes, time travel to
    pre-rename versions reads correctly, appends after the rename
    dedup against pre-rename rows; reopened instances load the
    mapping. Drop: column disappears everywhere, and a re-added
    column under the same name gets a FRESH slot — pre-drop bytes
    never leak into it."""
    for proto in ("rename", "manifest"):
        base = tmp_path / f"ev_{proto}"
        s = Store(base_path=base, spark=spark, commit_protocol=proto)
        s["R"] = ohlcv_data.head(50)
        item = s._item_path("R")
        inodes_before = {
            str(f): f.stat().st_ino for f in item.rglob("*.parquet")
        }

        s.rename_column("VOLUME", "VOL")
        # metadata-only: every parquet inode untouched
        inodes_after = {
            str(f): f.stat().st_ino for f in item.rglob("*.parquet")
        }
        assert inodes_after == inodes_before
        out = s["R"][:]
        assert "VOL" in out.columns and "VOLUME" not in out.columns
        truth = ohlcv_data.head(50).sort_index()
        assert list(out["VOL"]) == list(truth["Volume"])

        # appends after the rename: new name in, dedup against OLD rows
        nxt = ohlcv_data.iloc[25:75].copy()
        nxt = nxt.rename(columns={"Volume": "Vol"})
        s["R"] += nxt
        out = s["R"][:]
        assert len(out) == 75
        truth75 = ohlcv_data.head(75).sort_index()
        assert list(out["VOL"]) == list(truth75["Volume"])

        # predicates + delete_where speak the logical name
        med = float(sorted(out["VOL"])[10])
        n = s.delete_where("R", f"VOL <= {med}")
        assert n == int((out["VOL"] <= med).sum())

        # reopened instance loads the mapping
        s2 = Store(base_path=base, spark=spark, commit_protocol=proto)
        assert "VOL" in s2._metadata.column_schema
        assert s2._metadata.phys("VOL") == "VOLUME"
        assert "VOL" in s2["R"][:].columns

        if proto == "manifest":
            # time travel: pre-rename version reads under the NEW
            # logical name over the original bytes
            snap1 = s.snapshot("R", 1).toPandas()
            assert "VOL" in snap1.columns and len(snap1) == 50
            assert sorted(snap1["VOL"]) == sorted(truth["Volume"])

        # DROP: gone from every surface; files untouched
        s.drop_column("HIGH")
        out = s["R"][:]
        assert "HIGH" not in out.columns
        s2 = Store(base_path=base, spark=spark, commit_protocol=proto)
        assert "HIGH" not in s2._metadata.column_schema

        # re-added column under the dropped name: fresh slot, default
        # everywhere — pre-drop bytes can NEVER leak in
        s.add_column("HIGH", float, -1.0)
        out = s["R"][:]
        assert (out["HIGH"] == -1.0).all()
        assert s._metadata.phys("HIGH") != "HIGH"

        # compaction materializes the evolved schema and keeps values
        vol_before = sorted(s["R"][:]["VOL"])
        s.compact("R")
        out = s["R"][:]
        assert sorted(out["VOL"]) == vol_before
        assert (out["HIGH"] == -1.0).all()
        assert "VOL" in out.columns

        # guards
        with pytest.raises(SchemaError):
            s.rename_column("DATE", "TS")
        with pytest.raises(SchemaError):
            s.rename_column("NOPE", "X")
        with pytest.raises(SchemaError):
            s.rename_column("OPEN", "CLOSE")
        with pytest.raises(SchemaError):
            s.drop_column("DATE")
        with pytest.raises(SchemaError):
            s.drop_column("NOPE")


def test_schema_evolution_rename_datasource_paths(
    tmp_path, spark, ohlcv_data
):
    """The oakstore DataSource (batch read + CDC stream) applies the
    physical->logical mapping: a renamed column reads under its new
    name from pre-rename files, and the CDC stream's replayed inserts
    carry it too. After a delete_where and a compact, under either
    protocol, the batch read resolves the same live year dirs as the
    store's own read."""
    from oakstore_spark.sources.datasource import OakStoreDataSource

    spark.dataSource.register(OakStoreDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    truth = ohlcv_data.head(30).sort_index()
    cut = float(sorted(truth["Volume"])[10])
    kept = truth[truth["Volume"] > cut]
    for proto in ("rename", "manifest"):
        base = tmp_path / f"ev_ds_{proto}"
        s = Store(base_path=base, spark=spark, commit_protocol=proto)
        s["D"] = ohlcv_data.head(30)
        s.rename_column("CLOSE", "SETTLE")

        def load():
            return (
                spark.read.format("oakstore")
                .option("store_path", str(base))
                .option("key", "D")
                .load()
            )

        assert "SETTLE" in load().columns and "CLOSE" not in load().columns
        got = load().orderBy("DATE").toPandas()
        assert list(got["SETTLE"]) == list(truth["Close"])

        assert s.delete_where("D", f"VOLUME <= {cut}") == len(truth) - len(kept)
        assert s.compact("D", min_files_per_partition=0) == 1
        got = load().orderBy("DATE").toPandas()
        assert list(got["SETTLE"]) == list(kept["Close"])
        assert list(got["VOLUME"]) == list(s["D"][:]["VOLUME"])

    base = tmp_path / "ev_ds_manifest"
    out_dir = tmp_path / "cdc_out"
    q = (
        spark.readStream.format("oakstore")
        .option("store_path", str(base))
        .option("key", "D")
        .load()
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cdc = spark.read.parquet(str(out_dir)).orderBy("DATE").toPandas()
    assert "SETTLE" in cdc.columns
    assert list(cdc["SETTLE"]) == list(kept["Close"])


def test_multi_commit_delete_and_compact_moves(
    tmp_path, spark, ohlcv_data, monkeypatch
):
    """r15 (r14 verdict ask #5): multi_commit move descriptors — a
    GDPR delete on one item plus the rewritten derived item publish
    ATOMICALLY: a crash before the txn object lands leaves both items
    at their pre-txn versions (staged generations are invisible
    debris); a crash mid fan-out rolls forward on the next open;
    operations land per-item in the history ("delete" / "compact")."""
    import os as _os

    import oakstore_spark.store as store_mod
    from oakstore_spark import Store

    monkeypatch.setattr(store_mod, "_MAX_RECORDS_PER_FILE", 40)
    base = tmp_path / "mv_store"
    s = Store(base, spark=spark, commit_protocol="manifest")
    data = ohlcv_data.head(200)
    s["CORPUS"] = data
    s["IDX"] = ohlcv_data.head(50)
    # fragment CORPUS so a compact move has work
    s["CORPUS"] += ohlcv_data.iloc[200:260]

    target = float(sorted(data["Volume"])[40])
    expect_del = int((ohlcv_data.head(260)["Volume"] <= target).sum())

    # happy path: delete on CORPUS + replacement append on IDX,
    # one txn
    txn = s.multi_commit({
        "CORPUS": {"op": "delete_where",
                   "predicate": f"VOLUME <= {target}"},
        "IDX": ohlcv_data.iloc[50:90],
    })
    assert txn == 1
    out = s["CORPUS"][:]
    assert len(out) == 260 - expect_del
    assert (out["VOLUME"] > target).all()
    assert len(s["IDX"][:]) == 90
    ops = {h["version"]: h["operation"] for h in s.history("CORPUS")}
    assert ops[max(ops)] == "delete"
    ops_idx = {h["version"]: h["operation"] for h in s.history("IDX")}
    assert ops_idx[max(ops_idx)] == "multi"

    # compact move in a txn
    txn2 = s.multi_commit({"CORPUS": {"op": "compact",
                                      "min_files_per_partition": 0}})
    assert txn2 == 2
    assert len(s["CORPUS"][:]) == 260 - expect_del
    ops = {h["version"]: h["operation"] for h in s.history("CORPUS")}
    assert ops[max(ops)] == "compact"

    # crash BEFORE the txn commit point: neither the delete nor the
    # sibling append is visible
    pre = {k: s.versions(k) for k in ("CORPUS", "IDX")}
    real_link = _os.link

    def no_link(src, dst, *a, **kw):
        if "_txns" in str(dst):
            raise RuntimeError("crash before txn commit")
        return real_link(src, dst, *a, **kw)

    _os.link = no_link
    try:
        with pytest.raises(RuntimeError):
            s.multi_commit({
                "CORPUS": {"op": "delete_where", "predicate": "VOLUME >= 0"},
                "IDX": ohlcv_data.iloc[90:100],
            })
    finally:
        _os.link = real_link
    s2 = Store(base, spark=spark, commit_protocol="manifest")
    assert {k: s2.versions(k) for k in ("CORPUS", "IDX")} == pre
    assert len(s2["CORPUS"][:]) == 260 - expect_del  # delete NOT applied
    assert len(s2["IDX"][:]) == 90

    # crash mid fan-out AFTER the commit point: recovery applies BOTH
    published = []
    orig_pub = Store._commit_manifest

    def crashy(self, path, version, years, operation, txn):
        if len(published) == 1:
            raise RuntimeError("crash mid fan-out")
        published.append(operation)
        return orig_pub(self, path, version, years, operation, txn)

    Store._commit_manifest = crashy
    try:
        with pytest.raises(RuntimeError):
            s2.multi_commit({
                "CORPUS": {"op": "delete_where",
                           "predicate": "VOLUME >= 0"},
                "IDX": ohlcv_data.iloc[100:110],
            })
    finally:
        Store._commit_manifest = orig_pub
    s3 = Store(base, spark=spark, commit_protocol="manifest")  # recovers
    assert len(s3["CORPUS"][:]) == 0  # delete applied by roll-forward
    # 90 + the mid-fan-out txn's 10 rows; the pre-commit-crash batch
    # (iloc[90:100]) was correctly never applied
    assert len(s3["IDX"][:]) == 100
    assert published == ["delete"]  # per-item op reached the manifest

    # unknown op / missing item guards
    with pytest.raises(ValueError, match="unknown multi_commit op"):
        s3.multi_commit({"CORPUS": {"op": "truncate"}})
    with pytest.raises(ValueError, match="does not exist"):
        s3.multi_commit({"GHOST": {"op": "compact"}})
