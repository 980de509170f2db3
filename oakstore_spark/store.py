"""Keyed timeseries store on PySpark + partitioned Parquet.

A Spark-native re-expression of the reference's store semantics
(/root/reference/oakstore/store.py, 267 lines — cited per-method below).
The public surface matches the reference:

    store = Store("/path", cols={...}, index="DATE")
    store["MSFT"] = df                 # create item (fails if exists)
    store["MSFT"] += df                # append + dedup (old wins)
    pdf = store["MSFT"][d1:d2]         # inclusive time-range query -> pandas
    sdf = store["MSFT"].df(d1, d2)     # same, lazy Spark DataFrame (EXT)

Deliberate, documented deviations from the reference (SURVEY.md §4):
- metadata is JSON, not pickle (store.py:109-128);
- declared dtypes are actually CAST, not merely checked (the reference's
  astype return value is discarded, store.py:167-168);
- append dedups on the DATE key (the documented intent, README.md:47),
  not on full row values ignoring the index (store.py:229-230);
- an unbounded query has no upper bound (the reference defaults end to
  ``datetime.now()``, silently hiding future-dated rows, store.py:253);
- every mutation stages its replacement before publishing it, so a
  crash cannot corrupt the item (the reference overwrites in place,
  store.py:231-236).

Mutations (append, upsert, compact, delete_where, delete_range) are one
sequence: resolve the item's live year dirs, build the replacement
relation for the years it touches, stage it where no reader looks, then
publish. Two commit protocols (EXT) differ only in the staging location
and the publish step; ``item_format`` holds the on-disk layout of both.
``commit_protocol="rename"`` (default, local FS) stages in a hidden
``.tmp-KEY-*`` sibling and publishes by swapping the touched year dirs
in, after journaling the swap so an interrupted one is completed by
the item's next mutation or by ``vacuum()``. ``commit_protocol="manifest"``
stages a fresh immutable ``_data/<generation>/`` and publishes ONE new
``_manifests/vNNNNNNNN.json`` mapping each year to its live dir — a
single-object put-if-absent that is atomic on object storage (S3/GCS
conditional PUT) where directory renames are not. Superseded
generations stay readable (time travel) until ``vacuum()``. Items
self-describe their protocol (presence of ``_manifests/``), so any Store
instance reads both.

Scale design (100 TB): each item is a Parquet table hive-partitioned by
``_oak_year=YYYY`` with files sorted by the index column, so a time-range
query needs only (a) partition pruning on the year bound, (b) parquet
row-group min/max pruning on the index — both Catalyst built-ins. Writes
range-repartition by the index so partition files are non-overlapping in
time, and cap files at ~1M rows (the reference's chunk size,
store.py:27). No collect() anywhere in the write/append/query paths —
everything is a lazy plan until the terminal action.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from datetime import datetime
from pathlib import Path
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oakstore_spark import item_format
from oakstore_spark.errors import ConcurrentCommitError, ItemKeyError, SchemaError
from oakstore_spark.item_format import PARTITION_COL as _PARTITION_COL
from oakstore_spark.schema import DEFAULT_COLUMN_SCHEMA, DEFAULT_INDEX_NAME, Metadata
from oakstore_spark.session import get_spark

_KEY_REGEX = re.compile(r"^[-a-zA-Z0-9_.]+\Z")  # parity: store.py:28
_ITEMS_DIR = "items"  # parity: store.py:29
_METADATA_FILE = "_metadata.json"
_MAX_RECORDS_PER_FILE = 1_000_000  # parity: store.py:27 (_DEFAULT_CHUNK_SIZE)
_COMMIT_ATTEMPTS = 5  # manifest publishes lost to a racing writer, then give up
_TXNS_DIR = "_txns"  # store-level multi-item transaction objects
_TXN_CHECKPOINT = "_checkpoint"  # highest fully-processed txn id


class _Staged(NamedTuple):
    """A mutation's replacement, written but not yet visible. Publishing
    it replaces each live year by the year dir staged under ``dir``, and
    drops each year of ``touched`` that has none (every row was deleted).
    ``n`` is what the mutation returns: rows deleted, years compacted."""

    dir: Path
    touched: tuple[str, ...] = ()
    n: int = 0


class Item:
    """Lazy handle bound to (key, store); existence is checked only at
    read/append time (parity: store.py:49-71)."""

    def __init__(self, *, key: str, store: "Store") -> None:
        self._key = key
        self._store = store

    def __iadd__(self, data) -> "Item":
        self._store._append(key=self._key, data=data)
        return self

    def __getitem__(self, sl: slice) -> pd.DataFrame:
        # parity: store.py:61-68 — step unsupported, bounds must be datetime
        if sl.step is not None:
            raise KeyError("step not supported")
        if sl.start is not None and not isinstance(sl.start, datetime):
            raise KeyError("start must be a datetime")
        if sl.stop is not None and not isinstance(sl.stop, datetime):
            raise KeyError("stop must be a datetime")
        return self._store._query(key=self._key, start=sl.start, end=sl.stop)

    def df(self, start: datetime | None = None, end: datetime | None = None) -> DataFrame:
        """EXT: the same inclusive range query as ``[start:end]`` but
        returned as a lazy Spark DataFrame (the scale-friendly surface —
        the reference only materializes to pandas, store.py:181)."""
        return self._store._scan(key=self._key, start=start, end=end)

    def pandas_api(
        self, start: datetime | None = None, end: datetime | None = None
    ):
        """EXT: the item as a pandas-on-Spark frame (DATE index, sorted)
        — the drop-in pandas UX the reference's users already write
        (``.rolling()``, ``.resample()``, column math), distributed.

        The stored DATE column is passed as ``index_col``, so no default
        index is ever attached — attaching one either collects to the
        driver (sequence) or plans an empty-key Window (the two
        PandasAPIOnSparkAdviceWarning paths). The bridge itself is
        distributed end to end.

        Scale caveat, stated honestly: pandas-on-Spark operations over
        the GLOBAL index (rolling/shift without a grouping) plan an
        empty-key Window and funnel to one partition — fine for a
        single item's slice, wrong for the 100 TB path. For partitioned
        work use the engine operators (``Item.resample``,
        ``operators/timeseries``) which shuffle only on keys.
        """
        return (
            self.df(start, end)
            .pandas_api(index_col=self._store._metadata.index_name)
            .sort_index()
        )

    def resample(
        self,
        interval: str,
        start: datetime | None = None,
        end: datetime | None = None,
    ) -> DataFrame:
        """EXT: downsample the item to ``interval`` candles ('hour',
        'day', 'week', 'month', ...) — the operation a timeseries store
        exists for, pushed into the engine instead of
        ``to_pandas().resample()``. For the OHLCV column shape, OPEN/
        CLOSE take the first/last stored row by index (min_by/max_by on
        the index — one hash aggregate, no sort), HIGH/LOW take max/min,
        all other numeric columns sum (VOLUME semantics). Partition +
        row-group pruning from the optional range bounds still applies;
        at 100 TB the scan reads only the touched years. Returns a lazy
        DataFrame keyed by the truncated index, ascending."""
        sdf = self._store._scan(key=self._key, start=start, end=end)
        idx = self._store._metadata.index_name
        bucket = F.date_trunc(interval, F.col(idx)).alias(idx)
        aggs = []
        for name in self._store._metadata.column_schema:
            up = name.upper()
            if up == "OPEN":
                aggs.append(F.min_by(name, F.col(idx)).alias(name))
            elif up == "CLOSE":
                aggs.append(F.max_by(name, F.col(idx)).alias(name))
            elif up == "HIGH":
                aggs.append(F.max(name).alias(name))
            elif up == "LOW":
                aggs.append(F.min(name).alias(name))
            else:
                aggs.append(F.sum(name).alias(name))
        return sdf.groupBy(bucket).agg(*aggs).orderBy(idx)

    def __repr__(self) -> str:
        return f"{type(self).__name__}(key={self._key!r}, store={self._store!r})"


class Store:
    """Directory of independent timeseries items sharing one declared schema.

    Parity: store.py:74-128. ``base_path`` holds ``_metadata.json`` and an
    ``items/`` dir with one Parquet table per uppercase key.
    """

    def __init__(
        self,
        base_path: Path | str = "./data",
        cols: dict[str, type] | None = None,
        index: str | None = None,
        spark: SparkSession | None = None,
        commit_protocol: str = "rename",
    ) -> None:
        if commit_protocol not in ("rename", "manifest"):
            raise ValueError(f"unknown commit_protocol {commit_protocol!r}")
        self._commit_protocol = commit_protocol
        self._spark = spark or get_spark()
        self._base_path = Path(base_path)
        self._base_path.mkdir(parents=True, exist_ok=True)
        self._items_path = self._base_path / _ITEMS_DIR
        self._items_path.mkdir(parents=True, exist_ok=True)

        # parity: store.py:97-128 — explicit schema conflicts with a stored
        # one -> SchemaError; absent both -> default OHLCV schema.
        new_meta: Metadata | None = None
        if not (cols is None and index is None):
            new_meta = Metadata.build(cols or DEFAULT_COLUMN_SCHEMA, index or DEFAULT_INDEX_NAME)

        self._metadata_path = self._base_path / _METADATA_FILE
        if self._metadata_path.exists():
            loaded = Metadata.load(self._metadata_path)
            if new_meta is not None and loaded != new_meta:
                raise SchemaError(
                    f"loaded metadata {loaded!r} does not match provided metadata {new_meta!r}"
                )
            self._metadata = loaded
        else:
            self._metadata = new_meta or Metadata.build(DEFAULT_COLUMN_SCHEMA, DEFAULT_INDEX_NAME)
            self._metadata.save(self._metadata_path)

        # roll forward any multi-item transaction whose per-item
        # manifests were not all published (crash between the txn
        # commit point and the fan-out) — see multi_commit()
        self._txns_path = self._base_path / _TXNS_DIR
        if self._txns_path.is_dir():
            self.recover_multi_commits()

    # -- public dunder surface (parity: store.py:130-139) -----------------

    def __repr__(self) -> str:
        return f"{type(self).__name__}(base_path={str(self._base_path)!r})"

    def __getitem__(self, key: str) -> Item:
        return Item(key=key, store=self)

    def __setitem__(self, key: str, data) -> None:
        # assigning an Item back is the __iadd__ round-trip no-op
        # (parity: store.py:136-139)
        if isinstance(data, Item):
            return
        self._write(key=key, data=data)

    def keys(self) -> list[str]:
        """EXT: list existing item keys. Hidden dot-dirs (``.tmp-*`` /
        ``.trash-*`` / ``.stage-*`` staging debris) are never keys."""
        if not self._items_path.exists():
            return []
        return sorted(
            p.name
            for p in self._items_path.iterdir()
            if p.is_dir() and not p.name.startswith(".")
        )

    # -- key handling (parity: store.py:183-194) ---------------------------

    @staticmethod
    def _validate_key(key: str) -> bool:
        return _KEY_REGEX.match(key) is not None

    def _item_path(self, key: str) -> Path:
        if not self._validate_key(key):
            raise ItemKeyError(f"invalid key {key.upper()}")
        return self._items_path / key.upper()

    # -- schema normalization (parity: store.py:141-174) -------------------

    def _normalize(self, data) -> DataFrame:
        """Project + rename-to-upper + cast + index coercion, as one lazy plan.

        Matches _to_internal_type's observable behavior (case-insensitive
        matching, missing column -> SchemaError, extra columns dropped,
        uppercased names) but actually applies the declared casts. An
        uncastable value raises SchemaError at action time via a guarded
        cast — kept lazy and distributed (no extra validation pass).
        """
        if isinstance(data, pd.DataFrame):
            return self._normalize_pandas(data)
        if isinstance(data, DataFrame):
            return self._normalize_spark(data)
        raise SchemaError(f"unsupported input type {type(data).__name__}")

    def _check_columns(self, columns: list[str]) -> dict[str, str]:
        by_upper = {c.upper(): c for c in columns}
        missing = [c for c in self._metadata.column_schema if c not in by_upper]
        # evolved columns (add_column) may be absent from input — their
        # declared default fills them; anything else missing is an error
        if any(c not in self._metadata.defaults for c in missing):
            raise SchemaError("data does not match store schema")
        return by_upper

    def _normalize_pandas(self, data: pd.DataFrame) -> DataFrame:
        """Driver-side normalization for pandas input — validates (and,
        unlike the reference, actually applies) the declared casts eagerly,
        raising SchemaError like the reference does (store.py:165-172)."""
        idx = self._metadata.index_name
        by_upper = self._check_columns(list(data.columns))
        pdf = pd.DataFrame(index=data.index)
        try:
            for name in self._metadata.column_schema:
                if name in by_upper:
                    src = data[by_upper[name]]
                else:  # evolved column absent from input -> default
                    src = pd.Series(
                        self._metadata.defaults[name], index=data.index
                    )
                pdf[name] = src.astype(self._metadata.py_type(name))
            pdf.index = pd.to_datetime(data.index)
        except (ValueError, TypeError) as e:
            raise SchemaError("data does not match store schema") from e
        pdf.index.name = idx
        return self._spark.createDataFrame(pdf.reset_index())

    def _normalize_spark(self, sdf: DataFrame) -> DataFrame:
        """Lazy, distributed normalization for Spark input. ANSI casts
        would abort the whole job with an engine error, so each cast is a
        try_cast guarded by raise_error naming the offending column/value
        (fires at action time on the executor that sees the bad row)."""
        idx = self._metadata.index_name
        by_upper = self._check_columns(sdf.columns)
        if idx.upper() not in by_upper:
            raise SchemaError(f"data has no index column {idx!r}")

        def guarded_cast(src: str, target, name: str):
            casted = F.col(src).try_cast(target)
            return (
                F.when(
                    F.col(src).isNotNull() & casted.isNull(),
                    F.raise_error(
                        F.format_string(
                            f"SchemaError: column {name} not castable: %s",
                            F.col(src).try_cast("string"),
                        )
                    ),
                )
                .otherwise(casted)
                .alias(name)
            )

        cols = [guarded_cast(by_upper[idx.upper()], "timestamp", idx)]
        for name in self._metadata.column_schema:
            if name in by_upper:
                cols.append(
                    guarded_cast(by_upper[name], self._metadata.spark_type(name), name)
                )
            else:  # evolved column absent from input -> default
                cols.append(
                    F.lit(self._metadata.defaults[name])
                    .cast(self._metadata.spark_type(name))
                    .alias(name)
                )
        return sdf.select(*cols)

    # -- physical layout ----------------------------------------------------

    def _zorder_expr(self, sdf: DataFrame, cols: list[str]) -> Column:
        """Z-value (Morton code) of the given numeric/temporal columns:
        each value is min-max scaled to a ``bits``-wide integer rank
        (one small stats job over the data being rewritten), and the
        ranks' bits are interleaved into one orderable LONG — a static
        JVM expression tree (shiftright/and/or per bit), no UDF. Nulls
        rank 0. Strings are rejected: a truncated-prefix rank would
        silently break locality, so the caller should cluster on an
        explicit numeric surrogate instead."""
        n = len(cols)
        bits = max(1, min(16, 63 // n))
        for c in cols:
            dt = sdf.schema[c].dataType
            if not isinstance(
                dt,
                (
                    T.NumericType,
                    T.TimestampType,
                    T.TimestampNTZType,
                    T.DateType,
                ),
            ):
                raise SchemaError(
                    f"zorder column {c} has non-orderable-numeric type {dt}"
                )
        aggs = []
        for c in cols:
            d = F.col(c).cast("double")
            aggs += [F.min(d).alias(f"mn_{c}"), F.max(d).alias(f"mx_{c}")]
        row = sdf.agg(*aggs).first()
        levels = (1 << bits) - 1
        z = F.lit(0).cast("long")
        for i, c in enumerate(cols):
            mn = row[f"mn_{c}"]
            mx = row[f"mx_{c}"]
            if mn is None:  # all-null column: contributes nothing
                continue
            span = (mx - mn) or 1.0
            scaled = F.least(
                F.lit(levels).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    (
                        (F.col(c).cast("double") - F.lit(float(mn)))
                        / F.lit(float(span))
                        * levels
                    ).cast("long"),
                ),
            )
            for b in range(bits):
                bit = F.shiftright(scaled, b).bitwiseAND(F.lit(1).cast("long"))
                z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
        return z

    def _layout_for_write(
        self,
        sdf: DataFrame,
        cluster_by: list[str] | None = None,
        zorder: bool = False,
    ) -> DataFrame:
        """Range-partition by the index so written files are time-disjoint
        and sorted — the Spark analogue of the reference's sorted 1M-row
        Dask chunks (store.py:174): gives parquet row-group min/max stats
        maximal pruning power on range queries.

        ``cluster_by`` re-sorts files by the given value columns instead
        (then the index as tiebreak): file/row-group min-max stats
        tighten on THOSE columns, so scans filtering on them skip files
        — at the cost of looser index stats inside each year (year-level
        partition pruning is unaffected). Use for items queried mostly
        by value predicates; time-slice-heavy items keep the default.

        ``zorder=True`` interleaves the cluster columns onto a Z-curve
        instead of sorting them lexicographically: linear multi-column
        clustering gives the SECOND column no locality (every file
        spans its full range), while the Z-curve tiles the value space
        so a conjunctive box predicate on ALL cluster columns skips
        files on every dimension at once (the Delta/Iceberg OPTIMIZE
        ZORDER layout). Single-column clustering should stay linear —
        the curve only pays off across >= 2 dimensions."""
        idx = self._metadata.index_name
        if cluster_by and zorder:
            z = self._zorder_expr(sdf, cluster_by)
            return (
                sdf.withColumn(_PARTITION_COL, F.year(F.col(idx)))
                .withColumn("_oak_z", z)
                .repartitionByRange(F.col("_oak_z"))
                .sortWithinPartitions(_PARTITION_COL, "_oak_z", idx)
                .drop("_oak_z")
            )
        if cluster_by:
            # range-partition AND sort on the cluster columns: each task
            # (hence each written file) owns a disjoint slice of the
            # clustered value space — within-partition sorting alone
            # would leave every file spanning the full range. The sort
            # LEADS with the partition column: the partitioned writer
            # requires ordering by it and would otherwise insert its own
            # sort, discarding the clustering order entirely.
            return (
                sdf.withColumn(_PARTITION_COL, F.year(F.col(idx)))
                .repartitionByRange(*[F.col(c) for c in cluster_by])
                .sortWithinPartitions(_PARTITION_COL, *cluster_by, idx)
            )
        # (_oak_year, idx) ordering == idx ordering (the year is a
        # monotone function of the index), stated explicitly so the
        # writer's required ordering is satisfied without an extra sort
        return (
            sdf.withColumn(_PARTITION_COL, F.year(F.col(idx)))
            .repartitionByRange(F.col(idx))
            .sortWithinPartitions(_PARTITION_COL, idx)
        )

    def _write_parquet(
        self,
        sdf: DataFrame,
        path: Path,
        cluster_by: list[str] | None = None,
        zorder: bool = False,
    ) -> None:
        out = self._layout_for_write(sdf, cluster_by, zorder)
        # logical -> physical aliasing: files ALWAYS carry physical
        # names, so data written after a metadata-only rename stays
        # byte-compatible with data written before it
        for c in self._metadata.column_schema:
            p = self._metadata.phys(c)
            if p != c and c in out.columns:
                out = out.withColumnRenamed(c, p)
        (
            out.write.option("maxRecordsPerFile", _MAX_RECORDS_PER_FILE)
            .partitionBy(_PARTITION_COL)
            .parquet(str(path), mode="errorifexists")
        )

    # -- resolve → stage → publish: the one mutation sequence ---------------

    def _existing(self, key: str) -> Path:
        path = self._item_path(key)
        if not path.exists():
            raise ValueError(f"key={key.upper()} does not exist")
        return path

    # (version, {year: live dir relative to the item}) of either protocol
    _latest_manifest = staticmethod(item_format.live_year_dirs)

    def _manifest_paths(self, path: Path, mapping: dict[str, str]) -> list[str]:
        """Absolute dirs of a {year: dir relative to the item} mapping."""
        return [str(path / rel) for _, rel in sorted(mapping.items())]

    def _read(
        self,
        path: Path,
        dirs: list[str],
        start: datetime | None = None,
        end: datetime | None = None,
    ) -> DataFrame:
        """The one read of item data: Parquet ``dirs`` (or files) of the
        item at ``path`` under the declared schema, restricted to
        ``start <= index <= end`` (inclusive, either bound optional),
        aliased to the logical column names with read-time defaults
        filled, projected to the index plus the declared columns."""
        if not dirs:
            return self._empty_item_df()
        idx = self._metadata.index_name
        reader = self._spark.read.schema(self._declared_read_schema())
        # year dirs that all sit directly in the item (the rename layout)
        # are read as its partitions, so the year bound is a partition
        # filter in the plan; generations of a manifest item have no
        # common root, and their years were pruned from ``dirs`` already
        partitioned = all(Path(d).parent == path for d in dirs)
        if partitioned:
            reader = reader.option("basePath", str(path))
        raw = reader.parquet(*dirs)
        year = F.col(_PARTITION_COL)
        if start is not None:
            raw = raw.where(F.col(idx) >= F.lit(start))
            if partitioned:
                raw = raw.where(year >= start.year)
        if end is not None:
            raw = raw.where(F.col(idx) <= F.lit(end))
            if partitioned:
                raw = raw.where(year <= end.year)
        return self._fill_defaults(raw).select(idx, *self._metadata.column_schema)

    def _stage(
        self,
        path: Path,
        sdf: DataFrame,
        cluster_by: list[str] | None = None,
        zorder: bool = False,
    ) -> Path:
        """Write ``sdf`` as year dirs where no reader looks: a fresh
        generation inside a manifest item (invisible until a manifest names
        it), or a hidden ``.tmp-KEY-*`` sibling of a rename item."""
        if item_format.is_manifest_item(path):
            stage = item_format.generation_dir(path, uuid.uuid4().hex)
        else:
            stage = self._items_path / f".tmp-{path.name}-{uuid.uuid4().hex}"
        self._write_parquet(sdf, stage, cluster_by=cluster_by, zorder=zorder)
        return stage

    def _write_generation(self, path: Path, sdf: DataFrame) -> dict[str, str]:
        """Stage one generation of a manifest item; returns its year map."""
        return self._manifest_years(path, {}, _Staged(self._stage(path, sdf)))

    @staticmethod
    def _manifest_years(
        path: Path, live: dict[str, str], staged: _Staged
    ) -> dict[str, str]:
        """The year mapping after ``staged`` is published over ``live``."""
        years = {y: rel for y, rel in live.items() if y not in staged.touched}
        for y, d in item_format.year_dirs(staged.dir).items():
            years[y] = d.relative_to(path).as_posix()
        return years

    def _commit_manifest(
        self,
        path: Path,
        version: int,
        years: dict[str, str],
        operation: str = "append",
        txn: str | None = None,
    ) -> None:
        """Publish manifest ``version`` — the manifest protocol's commit
        point, a put-if-absent (see :func:`item_format.put_if_absent`). If
        another writer already published this version the loser gets
        ConcurrentCommitError and must retry from the new latest version
        (Delta's protocol: replacing the winner's manifest would lose its
        data generation). On behalf of a multi-item ``txn`` the publish is
        idempotent: an existing manifest that names the same txn is
        success, because an earlier fan-out already published it."""
        try:
            item_format.write_manifest(path, version, years, operation, txn)
        except FileExistsError:
            if txn is None or item_format.read_manifest(path, version).get("txn") != txn:
                raise ConcurrentCommitError(
                    f"manifest v{version} under {path} was already committed "
                    "by another writer; re-read latest and retry"
                ) from None

    def _publish(
        self,
        path: Path,
        version: int,
        live: dict[str, str],
        staged: _Staged,
        operation: str,
    ) -> None:
        """Make a staged mutation visible — the only step in which the two
        protocols differ: one new manifest, or a journaled swap of the
        touched year dirs."""
        if item_format.is_manifest_item(path):
            years = self._manifest_years(path, live, staged)
            self._commit_manifest(path, version + 1, years, operation=operation)
            return
        touched = {*staged.touched, *item_format.year_dirs(staged.dir)}
        item_format.swap_in(path, staged.dir, sorted(touched))

    def _swap_stages(self, path: Path) -> list[Path]:
        """The ``.tmp-KEY-*`` / ``.trash-KEY-*`` staging dirs of ``path``'s
        key under the rename protocol (manifest items have none). The hex
        suffix keeps key A off the staging of key A-B."""
        own = re.compile(rf"\.(tmp|trash)-{re.escape(path.name)}-[0-9a-f]+")
        return [s for s in self._items_path.glob(".*") if own.fullmatch(s.name)]

    def _finish_swaps(self, path: Path, cutoff: float | None = None) -> int:
        """Complete every journaled swap of ``path`` — a rename-protocol
        publish cut short by a crash — so that no year stays moved out.
        With a ``cutoff`` (vacuum), only stages last modified before it are
        touched, and those without a journal (a writer that crashed before
        publishing) are deleted. Returns the number of stages removed."""
        removed = 0
        for stage in self._swap_stages(path):
            if cutoff is not None and stage.stat().st_mtime > cutoff:
                continue
            if (stage / item_format.SWAP_PLAN).exists():
                item_format.finish_swap(path, stage)
            elif cutoff is not None:
                shutil.rmtree(stage, ignore_errors=True)
            else:
                continue
            removed += 1
        return removed

    def _mutate(self, path: Path, operation: str, stage) -> int:
        """resolve → stage → publish, the sequence of every mutation.
        ``stage(live)`` builds the replacement against the live year dirs
        and stages it, or returns None when nothing would change. A publish
        that loses a manifest race re-resolves and re-stages against the
        new latest version, because the winner may have changed the very
        years this mutation read; the losing generation is debris that
        vacuum() collects. Returns the staged count (rows deleted, years
        compacted). A rename item admits one writer at a time, so a
        journaled swap of its key found here was cut short by a crash, and
        is completed before this mutation resolves the live years."""
        self._finish_swaps(path)
        err: ConcurrentCommitError | None = None
        for _attempt in range(_COMMIT_ATTEMPTS):
            version, live = item_format.live_year_dirs(path)
            staged = stage(live)
            if staged is None:
                return 0
            try:
                self._publish(path, version, live, staged, operation)
                return staged.n
            except ConcurrentCommitError as e:
                err = e
        raise err

    # -- time travel (manifest protocol, EXT) -------------------------------

    def versions(self, key: str) -> list[int]:
        """EXT (manifest protocol): committed manifest versions still
        present on disk — the time-travel index. Superseded versions
        disappear once :meth:`vacuum` runs (same lifecycle as Delta's
        log retention). Rename-protocol items have no version history
        (every append rewrites in place) -> empty list."""
        return item_format.versions(self._existing(key))

    def _manifest_at(self, key: str, version: int) -> tuple[Path, dict[str, str]]:
        """(item path, year mapping) of a committed manifest version."""
        path = self._existing(key)
        if not item_format.is_manifest_item(path):
            raise ValueError(
                f"key={key.upper()} uses the rename protocol (no history)"
            )
        try:
            return path, item_format.read_manifest(path, version)["years"]
        except FileNotFoundError:
            raise ValueError(
                f"key={key.upper()} has no version {version} "
                f"(committed: {item_format.versions(path)})"
            ) from None

    def snapshot(self, key: str, version: int) -> DataFrame:
        """EXT: time travel — lazy DataFrame of the item AS OF a
        committed manifest ``version``. Reads exactly the generation
        files that manifest references; immutable generations make old
        snapshots exact, not approximations. Raises ValueError if the
        version was never committed or has been vacuumed away."""
        path, mapping = self._manifest_at(key, version)
        return self._read(path, self._manifest_paths(path, mapping)).orderBy(
            self._metadata.index_name
        )

    def diff(self, key: str, v_from: int, v_to: int) -> DataFrame:
        """EXT: CDC between two committed manifest versions — the rows
        inserted between ``v_from`` and ``v_to`` (appends are the only
        mutation, and the index-keyed old-wins dedup means a row's first
        version is authoritative, so the diff is pure inserts).

        Manifest-driven file skipping: only year partitions whose
        generation path CHANGED between the two manifests are read on
        either side — untouched years never reach the scan, so the diff
        cost tracks the write volume between the versions, not the table
        size. The changed years' new generations are anti-joined on the
        index against the same years as of ``v_from``."""
        path, m_from = self._manifest_at(key, v_from)
        _, m_to = self._manifest_at(key, v_to)
        changed = {y: rel for y, rel in m_to.items() if m_from.get(y) != rel}
        idx = self._metadata.index_name
        new_side = self._read(path, self._manifest_paths(path, changed))
        old_rels = {y: m_from[y] for y in changed if y in m_from}
        if not old_rels:
            return new_side.orderBy(idx)
        old_side = self._read(path, self._manifest_paths(path, old_rels)).select(idx)
        return new_side.join(old_side, idx, "left_anti").orderBy(idx)

    def history(self, key: str) -> list[dict]:
        """EXT (manifest protocol): the commit log as data — one entry
        per surviving manifest version with its operation and commit
        time (DESCRIBE HISTORY parity). Rename items have no log."""
        path = self._existing(key)
        out = []
        for v in item_format.versions(path):
            doc = item_format.read_manifest(path, v)
            out.append(
                {
                    "version": v,
                    "operation": doc.get("operation", "unknown"),
                    "committed_at": doc.get(
                        "committed_at",
                        item_format.manifest_path(path, v).stat().st_mtime,
                    ),
                    "n_years": len(doc["years"]),
                }
            )
        return out

    def restore(self, key: str, version: int) -> int:
        """EXT: roll the item back to an earlier committed version —
        METADATA-ONLY, like Delta's RESTORE: the old version's year
        mapping is re-published as a NEW manifest version (generations
        are immutable, so nothing is copied; the rolled-back state and
        the history both survive). Fails if the target version was
        vacuumed. Returns the new version number."""
        path, mapping = self._manifest_at(key, version)
        latest = item_format.versions(path)[-1]
        # restored generations must survive the next vacuum: they are
        # referenced by the NEW latest manifest, so the live set is right
        self._commit_manifest(path, latest + 1, mapping, operation="restore")
        return latest + 1

    def fsck(self, key: str) -> dict:
        """EXT: integrity check of an item's live year dirs — does each
        one exist and hold at least one Parquet file? Returns
        ``{"ok": bool, "missing": [...], "years_checked": N}``. Detects
        partial deletions (someone rm'd inside a live generation) and
        interrupted restores before a query fails mid-scan."""
        path = self._existing(key)
        _, live = item_format.live_year_dirs(path)
        missing = [
            d for d in self._manifest_paths(path, live)
            if not any(Path(d).glob("*.parquet"))
        ]
        return {"ok": not missing, "missing": missing, "years_checked": len(live)}

    # -- write (parity: store.py:196-212) ----------------------------------

    def _write(self, *, key: str, data) -> None:
        path = self._item_path(key)
        if path.exists():
            raise ValueError(f"key={key.upper()} already exists")
        if self._commit_protocol == "rename":
            self._write_parquet(self._normalize(data), path)
            return
        spath, years = self._stage_create(key, data)
        try:
            self._commit_manifest(spath, 1, years, operation="write")
            os.rename(spath, path)
        finally:
            shutil.rmtree(spath, ignore_errors=True)  # gone once renamed

    def _stage_create(self, key: str, data) -> tuple[Path, dict[str, str]]:
        """Stage a NEW manifest item under a hidden ``.stage-KEY-*`` dir:
        no key listing, read or write sees it until it is renamed into
        place, so a create that fails leaves no half-made key."""
        spath = self._items_path / f".stage-{key.upper()}-{uuid.uuid4().hex}"
        (spath / item_format.MANIFESTS_DIR).mkdir(parents=True)
        try:
            return spath, self._write_generation(spath, self._normalize(data))
        except BaseException:
            shutil.rmtree(spath, ignore_errors=True)
            raise

    # -- append + dedup (parity: store.py:214-236) --------------------------

    def upsert(self, key: str, data) -> None:
        """EXT: append with NEW-WINS dedup — the corrections path.
        ``store[k] += df`` keeps the first-written row on index
        collisions (the reference's intent); ``upsert`` replaces it
        with the incoming row (MERGE ... WHEN MATCHED THEN UPDATE).
        Same partition-pruned cost profile as append."""
        self._append(key=key, data=data, new_wins=True)

    def _append(self, *, key: str, data, new_wins: bool = False) -> None:
        """Append + dedup touching ONLY the year partitions the new data
        lands in.

        A new row can collide only with an old row sharing its DATE —
        same DATE ⇒ same year partition — so partitions outside the new
        data's year set are provably unaffected and are never read or
        rewritten. Append cost is therefore O(touched partitions), not
        O(table size): the property that keeps appends viable on a
        100 TB item (the reference rewrites the whole item every append,
        store.py:214-236).
        """
        path = self._item_path(key)
        if not path.exists():
            raise ValueError(f"key={key.upper()} does not exist, (use write instead?)")
        new = self._normalize(data)
        self._mutate(
            path, "append", lambda live: self._stage_append(path, live, new, new_wins)
        )

    def _stage_append(
        self, path: Path, live: dict[str, str], new: DataFrame, new_wins: bool
    ) -> _Staged:
        """Stage an append: the live rows of the years ``new`` touches,
        unioned with ``new`` and deduped on the index.

        Dedup is on the index key, old-wins — the *intended* semantics
        (README.md:39-48; the reference's value-only drop_duplicates at
        store.py:229-230 is a flagged bug); upsert's new-wins inverts the
        priority. row_number is deterministic: ties break by priority
        then full row value."""
        idx = self._metadata.index_name
        # metadata-scale action: the distinct years of the incoming batch
        years = [str(r[0]) for r in new.select(F.year(idx)).distinct().collect()]
        touched = {y: live[y] for y in years if y in live}
        old_prio, new_prio = (1, 0) if new_wins else (0, 1)
        w = Window.partitionBy(idx).orderBy("_oak_prio", *self._metadata.column_schema)
        merged = (
            self._read(path, self._manifest_paths(path, touched))
            .withColumn("_oak_prio", F.lit(old_prio))
            .unionByName(new.withColumn("_oak_prio", F.lit(new_prio)))
            .withColumn("_oak_rn", F.row_number().over(w))
            .filter(F.col("_oak_rn") == 1)
            .drop("_oak_prio", "_oak_rn")
        )
        return _Staged(self._stage(path, merged))

    # -- EXT: multi-item atomic commit ---------------------------------------

    def multi_commit(self, datas: dict, operation: str = "multi") -> int:
        """EXT: publish N items' data in ONE transaction — corpus +
        derived index + stats appear together or not at all, so no
        reader ever sees an index built from rows it cannot read.
        Manifest protocol only.

        Protocol (the Delta-style commit rung, one level up):

        1. STAGE — per item, run the same stager as the single-item
           mutation (old-wins dedup against touched years for existing
           items; new items are created) and compute its target
           manifest. Nothing is visible: no per-item manifest is
           published.
        2. COMMIT — publish ONE transaction object
           ``_txns/tNNNNNNNN.json`` naming every (item, version,
           year-mapping) via the same put-if-absent as
           :meth:`_commit_manifest`. This single object write IS
           the commit point: before it, a crash leaves only
           unreferenced generation debris (invisible; vacuum
           collects); after it, the transaction is durable.
        3. ROLL FORWARD — publish each per-item manifest (doc carries
           the txn id). A crash mid-fan-out is repaired by
           :meth:`recover_multi_commits`, which every Store instance
           runs on open — publishes are idempotent (an
           already-present manifest naming the same txn is success).

        Concurrency: per-item manifest versions are claimed by the
        same put-if-absent publish, so an INDEPENDENT single-item
        writer racing the fan-out surfaces as ConcurrentCommitError
        rather than silent loss — multi-commit outputs should have
        one logical writer (the pipeline-publish shape). Returns the
        committed txn number.

        NEW items are staged under a hidden ``.stage-KEY-*`` dir (the
        txn doc records it) and renamed into place only during roll
        forward — a crash before the commit point leaves NO
        half-created key (``keys()`` / reads / writes never see it;
        vacuum collects the staging debris past retention). A staging
        error on a later item removes every staged dir of this call.

        Besides appends, a value may be a MOVE descriptor, so that
        corpus and derived-artifact maintenance publish atomically —
        e.g. a GDPR delete plus the rewritten index it invalidates:

            store.multi_commit({
                "EVENTS":  {"op": "delete_where",
                            "predicate": "USER_ID = 42"},
                "EVENTS_IDX": rebuilt_index_df,     # append
                "STATS":   {"op": "compact"},       # optional kwargs:
                                                    # min_files_per_partition,
                                                    # cluster_by, zorder
            })

        Moves stage their generation exactly like
        :meth:`delete_where` / :meth:`compact` (survivors/compacted
        files written, NOTHING published) and the txn object names the
        resulting year mapping; the per-item manifest (operation
        "delete"/"compact") appears only at roll-forward — before the
        txn commit point a crash leaves only unreferenced generation
        debris, after it recovery completes every move or none.
        """
        if self._commit_protocol != "manifest":
            raise ValueError(
                "multi_commit requires commit_protocol='manifest'"
            )
        if not datas:
            raise ValueError("multi_commit needs at least one item")
        self._txns_path.mkdir(exist_ok=True)
        plans: dict[str, dict] = {}
        staged_dirs: list[Path] = []
        try:
            for key in sorted(datas):
                data = datas[key]
                path = self._item_path(key)
                if not path.exists():
                    if isinstance(data, dict) and "op" in data:
                        raise ValueError(
                            f"key={key.upper()} does not exist "
                            f"(move op {data['op']!r} needs an item)"
                        )
                    spath, years = self._stage_create(key, data)
                    staged_dirs.append(spath)
                    plans[key.upper()] = {
                        "version": 1, "years": years, "staged": spath.name,
                    }
                    continue
                if not item_format.is_manifest_item(path):
                    raise ValueError(
                        f"key={key.upper()} uses the rename protocol; "
                        "multi_commit items must be manifest items"
                    )
                version, live = item_format.live_year_dirs(path)
                plan: dict = {"version": version + 1}
                if not (isinstance(data, dict) and "op" in data):
                    staged = self._stage_append(
                        path, live, self._normalize(data), new_wins=False
                    )
                elif data["op"] == "delete_where":
                    pred = data["predicate"]
                    pred = F.expr(pred) if isinstance(pred, str) else pred
                    staged = self._stage_delete_where(path, live, pred)
                    plan["operation"] = "delete"
                elif data["op"] == "compact":
                    staged = self._stage_compact(
                        path,
                        live,
                        data.get("min_files_per_partition", 2),
                        cluster_by=data.get("cluster_by"),
                        zorder=data.get("zorder", False),
                    )
                    plan["operation"] = "compact"
                else:
                    raise ValueError(
                        f"unknown multi_commit op {data['op']!r} "
                        "(expected 'delete_where' or 'compact')"
                    )
                plan["years"] = (
                    dict(live) if staged is None
                    else self._manifest_years(path, live, staged)
                )
                plans[key.upper()] = plan
        except BaseException:
            for spath in staged_dirs:
                shutil.rmtree(spath, ignore_errors=True)
            raise
        existing = [
            int(t.stem[1:].split(".", 1)[0])
            for pat in ("t*.json", "t*.failed.json")
            for t in self._txns_path.glob(pat)
        ]
        txn_v = max([self._txn_hwm(), *existing], default=0) + 1
        txn_id = f"t{txn_v:08d}"
        doc = {
            "protocol": "multi-txn-v1",
            "txn": txn_id,
            "operation": operation,
            "items": plans,
            "committed_at": time.time(),
        }
        target = self._txns_path / f"{txn_id}.json"
        try:
            item_format.put_if_absent(target, doc)  # THE commit point
        except FileExistsError:
            raise ConcurrentCommitError(
                f"txn {txn_id} already committed by another writer; "
                "re-stage and retry"
            ) from None
        try:
            self._apply_txn(doc)
        except ConcurrentCommitError:
            # an independent writer claimed a per-item version during
            # the fan-out: compensate exactly like recovery would
            self._abort_txn(target, doc, self._txn_item_states(doc))
            raise
        return txn_v

    def _apply_txn(self, doc: dict) -> None:
        for key in sorted(doc["items"]):
            plan = doc["items"][key]
            path = self._items_path / key
            staged = plan.get("staged")
            if staged and not path.exists():
                src = self._items_path / staged
                if src.exists():
                    os.rename(src, path)  # atomic reveal of a NEW item
                else:
                    raise ConcurrentCommitError(
                        f"txn {doc['txn']}: staged dir {staged} for new "
                        f"item {key} is gone and the item was never "
                        "published — staged data lost"
                    )
            self._commit_manifest(
                path,
                int(plan["version"]),
                plan["years"],
                plan.get("operation", doc.get("operation", "multi")),
                doc["txn"],
            )

    # -- txn checkpoint (high-water mark) ------------------------------------
    # recover_multi_commits() once rescanned EVERY historical txn object
    # on EVERY Store open — O(all txns ever). The checkpoint records the
    # highest txn id whose processing finished (rolled forward OR marked
    # failed), so opens read only newer txns and vacuum() can safely GC
    # both applied txn objects and the superseded manifests they named.

    def _txn_hwm(self) -> int:
        try:
            return int((self._txns_path / _TXN_CHECKPOINT).read_text())
        except (FileNotFoundError, ValueError):
            return 0

    def _set_txn_hwm(self, v: int) -> None:
        target = self._txns_path / _TXN_CHECKPOINT
        tmp = target.with_name(f".{target.name}.{uuid.uuid4().hex}.tmp")
        tmp.write_text(str(v))
        os.replace(tmp, target)

    def _txn_item_states(self, doc: dict) -> dict[str, str]:
        """Per-item roll-forward state of a committed txn:
        ``published`` (manifest at the plan version names THIS txn),
        ``missing`` (no manifest yet — roll forward), or ``conflict``
        (an INDEPENDENT writer claimed the version, or a new item's
        staged data vanished before publish)."""
        states: dict[str, str] = {}
        for key, plan in doc["items"].items():
            path = self._items_path / key
            try:
                cur = item_format.read_manifest(path, int(plan["version"]))
            except FileNotFoundError:
                cur = None
            if cur is not None:
                states[key] = (
                    "published" if cur.get("txn") == doc["txn"]
                    else "conflict"
                )
            elif plan.get("staged") and not (
                path.exists()
                or (self._items_path / plan["staged"]).exists()
            ):
                states[key] = "conflict"  # staged data lost pre-publish
            else:
                states[key] = "missing"
        return states

    def _abort_txn(
        self, tpath: Path, doc: dict, states: dict[str, str]
    ) -> None:
        """Mark a partially-publishable txn FAILED and compensate:
        roll back each sibling manifest this txn DID publish while it
        is still the item's latest (its generation becomes vacuumable
        debris); manifests already built upon by later versions cannot
        be rolled back and are recorded in the failed doc instead. The
        txn object is renamed ``tNNN.failed.json`` so Store opens WARN
        once instead of raising forever."""
        import warnings

        rolled_back, stuck = [], []
        for key, state in states.items():
            plan = doc["items"][key]
            path = self._items_path / key
            if state == "published":
                version = int(plan["version"])
                if max(item_format.versions(path), default=0) == version:
                    item_format.manifest_path(path, version).unlink(missing_ok=True)
                    if plan.get("staged") and not item_format.versions(path):
                        shutil.rmtree(path)  # txn-created item: remove whole key
                    rolled_back.append(key)
                else:
                    stuck.append(key)
            elif plan.get("staged"):
                shutil.rmtree(
                    self._items_path / plan["staged"], ignore_errors=True
                )
        doc = dict(doc)
        doc["status"] = "failed"
        doc["item_states"] = states
        doc["rolled_back"] = sorted(rolled_back)
        doc["unrollbackable"] = sorted(stuck)
        failed = tpath.with_name(f"{tpath.stem}.failed.json")
        failed.write_text(json.dumps(doc, sort_keys=True))
        tpath.unlink(missing_ok=True)
        warnings.warn(
            f"multi_commit txn {doc['txn']} aborted: an independent "
            f"writer claimed a manifest version (or staged data was "
            f"lost) for {sorted(k for k, s in states.items() if s == 'conflict')}; "
            f"rolled back {sorted(rolled_back)}"
            + (
                f"; could NOT roll back {sorted(stuck)} (later versions "
                "built on top — see the .failed.json doc)"
                if stuck else ""
            ),
            stacklevel=3,
        )

    def recover_multi_commits(self) -> int:
        """Roll forward committed transactions whose per-item
        manifests were not all published (crash between the txn
        commit point and the fan-out). Runs on every Store open;
        idempotent; reads only txns newer than the checkpoint
        high-water mark, so open cost does not grow with store age.

        Each existing manifest is verified by its ``txn`` field, not
        mere file existence: a version claimed by an INDEPENDENT
        writer marks the txn failed (``tNNN.failed.json`` + warning,
        with sibling rollback — see :meth:`_abort_txn`) instead of
        raising from ``__init__`` forever or silently dropping the
        staged item. Returns how many txns needed repair."""
        repaired = 0
        hwm = self._txn_hwm()
        new_hwm = hwm
        for t in sorted(self._txns_path.glob("t*.json")):
            if t.stem.endswith(".failed") or not t.stem[1:].isdigit():
                continue
            n = int(t.stem[1:])
            if n <= hwm:
                continue
            doc = json.loads(t.read_text())
            states = self._txn_item_states(doc)
            if any(s == "conflict" for s in states.values()):
                self._abort_txn(t, doc, states)
                repaired += 1
            elif any(s == "missing" for s in states.values()):
                try:
                    self._apply_txn(doc)
                except ConcurrentCommitError:
                    # lost a publish race DURING roll-forward
                    self._abort_txn(t, doc, self._txn_item_states(doc))
                repaired += 1
            new_hwm = max(new_hwm, n)
        if new_hwm > hwm:
            self._set_txn_hwm(new_hwm)
        return repaired

    def add_column(self, name: str, tp: type | str, default) -> None:
        """EXT schema evolution: add a column with a read-time default —
        METADATA-ONLY, like Delta's ADD COLUMN. No file is rewritten:
        parquet written before the evolution simply lacks the column,
        and every read path scans with the declared schema (absent
        columns surface as null) then coalesces the default in. New
        writes/appends may omit the column too (the default fills it at
        normalization) or provide it explicitly.

        Semantics note: the default back-fills NULLs in the evolved
        column wherever they occur — this store's columns are
        non-nullable by construction (normalization casts from concrete
        input), so null == "file predates the column"."""
        self._swap_metadata(self._metadata.with_column(name, tp, default))

    def rename_column(self, old: str, new: str) -> None:
        """EXT schema evolution: METADATA-ONLY column rename — no file
        is rewritten. The logical surface
        (reads, writes, predicates, SQL) speaks the new name
        immediately; on disk the column keeps its original (physical)
        name forever: old files stay valid byte-for-byte, new files
        write the same physical name, and every read path — store
        queries, snapshots/diff time travel, compaction rewrites, the
        ``oakstore`` DataSource batch + CDC stream — aliases physical
        -> logical at scan time. Time travel to pre-rename versions
        therefore surfaces the CURRENT logical name over the original
        bytes (Delta's RENAME COLUMN contract). The index column
        cannot be renamed (slice/dedup semantics are keyed on it)."""
        self._swap_metadata(self._metadata.with_renamed(old, new))

    def drop_column(self, name: str) -> None:
        """EXT schema evolution: METADATA-ONLY column drop — no file
        is rewritten; the bytes stay in old files but the physical
        slot is RETIRED, so the column disappears from every read
        path at once and a later :meth:`add_column` under the same
        name gets a FRESH slot (pre-drop data can never leak into
        it). New writes must omit the column (normalization projects
        to the declared schema). ``compact()`` naturally materializes
        the narrow schema since it rewrites through the declared read
        path."""
        self._swap_metadata(self._metadata.with_dropped(name))

    def _swap_metadata(self, evolved) -> None:
        # crash-safe swap: metadata is one small JSON object
        tmp = self._metadata_path.with_name(f".{_METADATA_FILE}.{uuid.uuid4().hex}.tmp")
        tmp.write_text(evolved.to_json())
        os.replace(tmp, self._metadata_path)
        self._metadata = evolved

    def _declared_read_schema(self):
        """Read schema in PHYSICAL (on-disk) column names — renamed
        columns keep their original name inside every parquet file
        (metadata-only rename); :meth:`_fill_defaults` aliases them
        back to the logical surface."""
        import pyspark.sql.types as T

        idx = self._metadata.index_name
        fields = [T.StructField(idx, T.TimestampType())]
        fields += [
            T.StructField(
                self._metadata.phys(c), self._metadata.spark_type(c)
            )
            for c in self._metadata.column_schema
        ]
        return T.StructType(fields)

    def _fill_defaults(self, sdf: DataFrame) -> DataFrame:
        # physical -> logical aliasing first (metadata-only renames),
        # then read-time defaults keyed by logical name
        for c in self._metadata.column_schema:
            p = self._metadata.phys(c)
            if p != c and p in sdf.columns:
                sdf = sdf.withColumnRenamed(p, c)
        for c, v in self._metadata.defaults.items():
            sdf = sdf.withColumn(
                c, F.coalesce(F.col(c), F.lit(v).cast(self._metadata.spark_type(c)))
            )
        return sdf

    def _empty_item_df(self) -> DataFrame:
        import pyspark.sql.types as T

        idx = self._metadata.index_name
        fields = [T.StructField(idx, T.TimestampType())]
        fields += [
            T.StructField(c, self._metadata.spark_type(c))
            for c in self._metadata.column_schema
        ]
        return self._spark.createDataFrame([], T.StructType(fields))

    def _scan(self, *, key: str, start: datetime | None, end: datetime | None) -> DataFrame:
        path = self._existing(key)
        idx = self._metadata.index_name
        _, live = item_format.live_year_dirs(path)
        # only year dirs intersecting the range reach the scan's file
        # listing; the exact inclusive range on the index then prunes
        # Parquet row groups and re-filters (the reference pushes pyarrow
        # row-group filters, then re-filters exactly, store.py:255-266)
        keep = {
            y: rel
            for y, rel in live.items()
            if (start is None or int(y) >= start.year)
            and (end is None or int(y) <= end.year)
        }
        return self._read(path, self._manifest_paths(path, keep), start, end).orderBy(idx)

    def _query(self, *, key: str, start: datetime | None, end: datetime | None) -> pd.DataFrame:
        pdf = self._scan(key=key, start=start, end=end).toPandas()
        return pdf.set_index(self._metadata.index_name)

    # -- EXT: maintenance ----------------------------------------------------

    def compact(
        self,
        key: str,
        min_files_per_partition: int = 2,
        cluster_by: list[str] | None = None,
        zorder: bool = False,
    ) -> int:
        """Rewrite fragmented year partitions into few sorted files.

        Repeated appends leave one file-set per append in each touched
        partition; small files tax scan planning and parquet footer
        reads. Partitions with more than ``min_files_per_partition``
        parquet files are re-sorted and rewritten (staged and published
        like an append); others are untouched. Returns the number of
        partitions compacted. The 100 TB operational pattern: run
        periodically, per-partition, off the write path.

        ``cluster_by=[col, ...]`` additionally re-CLUSTERS the data:
        every partition is rewritten (the fragmentation gate is
        bypassed — clustering is the point) with files sorted by the
        given value columns, tightening their file/row-group min-max
        stats so value-predicate scans skip files
        (``_layout_for_write`` documents the trade-off).

        ``zorder=True`` (with >= 2 ``cluster_by`` columns) lays files
        on the Morton curve of those columns instead of a linear sort —
        conjunctive box predicates then prune on every clustered
        dimension at once. See ``_layout_for_write``/``_zorder_expr``.
        """
        if zorder and not cluster_by:
            raise ValueError("zorder=True requires cluster_by columns")
        path = self._existing(key)
        if cluster_by is not None:
            cluster_by = [c.upper() for c in cluster_by]
            unknown = [c for c in cluster_by if c not in self._metadata.column_schema]
            if unknown:
                raise SchemaError(f"unknown cluster_by columns {unknown}")
            min_files_per_partition = 0
        return self._mutate(
            path,
            "compact",
            lambda live: self._stage_compact(
                path, live, min_files_per_partition, cluster_by, zorder
            ),
        )

    def _stage_compact(
        self,
        path: Path,
        live: dict[str, str],
        min_files_per_partition: int = 2,
        cluster_by: list[str] | None = None,
        zorder: bool = False,
    ) -> _Staged | None:
        """Stage a compaction: the live years holding more than
        ``min_files_per_partition`` files, rewritten."""
        frag = {
            y: rel
            for y, rel in live.items()
            if len(list((path / rel).glob("*.parquet"))) > min_files_per_partition
        }
        if not frag:
            return None
        combined = self._read(path, self._manifest_paths(path, frag))
        stage = self._stage(path, combined, cluster_by=cluster_by, zorder=zorder)
        return _Staged(stage, n=len(frag))

    @staticmethod
    def _is_marker(p: Path) -> bool:
        """Job-marker / crash debris that never carries data: Spark's
        _SUCCESS + .crc sidecars, and our own .tmp commit staging."""
        return (
            p.name == "_SUCCESS"
            or p.name.endswith(".crc")
            or (p.name.startswith(".") and p.name.endswith(".tmp"))
        )

    def vacuum(self, key: str, retention_sec: float = 3600.0) -> int:
        """Delete storage no reader can reach. Manifest items: year
        directories no manifest version newer than the latest
        references, superseded manifest files, stale commit debris.
        Rename items: ``.tmp-KEY-*`` staging directories of a writer
        that crashed mid-mutation — a stage whose swap had begun (it
        holds a swap plan) is completed instead of deleted, so the year
        it moved out is not lost — plus ``.trash-KEY-*`` dirs. Returns
        the number of directories removed.

        Writer safety: an in-flight mutation stages data FIRST and
        publishes after, so staging/generation paths younger than
        ``retention_sec`` may belong to a commit in flight — they are
        kept (Delta's retention check; pass ``retention_sec=0`` only
        when no writer can be in flight). Safe concurrently with
        readers of the LATEST version (their files are never touched);
        readers pinned to older versions must finish within the
        retention horizon."""
        path = self._existing(key)
        cutoff = time.time() - retention_sec
        if not item_format.is_manifest_item(path):
            return self._finish_swaps(path, cutoff)
        # live-txn awareness: manifests / staged dirs named by a txn
        # NEWER than the checkpoint may still be re-published by
        # recover_multi_commits — never GC those; txn objects AT or
        # BELOW the checkpoint are fully processed and themselves GC'd.
        hwm = self._txn_hwm() if self._txns_path.is_dir() else 0
        live_staged: set[str] = set()
        if self._txns_path.is_dir():
            for t in sorted(self._txns_path.glob("t*.json")):
                if t.stem.endswith(".failed") or not t.stem[1:].isdigit():
                    continue
                n = int(t.stem[1:])
                if n <= hwm:
                    if t.stat().st_mtime <= cutoff:
                        t.unlink(missing_ok=True)
                    continue
                for ikey, plan in json.loads(t.read_text())["items"].items():
                    if plan.get("staged"):
                        live_staged.add(plan["staged"])
                    elif ikey == path.name:
                        # a live txn staged this generation for THIS
                        # item; recovery will still publish it
                        live_staged.update(
                            str(path / rel) for rel in plan["years"].values()
                        )
        # staged-new-item debris is store-level (the key may never have
        # been published), so any manifest-item vacuum sweeps all of it
        for stage in self._items_path.glob(".stage-*"):
            if stage.name not in live_staged and stage.stat().st_mtime <= cutoff:
                shutil.rmtree(stage, ignore_errors=True)
        version, mapping = item_format.live_year_dirs(path)
        live = {str(path / rel) for rel in mapping.values()} | live_staged
        removed = 0
        data_root = path / item_format.DATA_DIR
        for gen_dir in sorted(data_root.iterdir()):
            if not gen_dir.is_dir():
                continue
            for ydir in item_format.year_dirs(gen_dir).values():
                if str(ydir) not in live and ydir.stat().st_mtime <= cutoff:
                    shutil.rmtree(ydir)
                    removed += 1
            rest = list(gen_dir.iterdir())
            if all(self._is_marker(p) for p in rest):
                for p in rest:
                    p.unlink()
                gen_dir.rmdir()
        for v in item_format.versions(path):
            if v >= version:
                continue
            txn = item_format.read_manifest(path, v).get("txn")
            if txn and int(txn[1:]) > hwm:
                continue  # a live txn's recovery would re-publish it
            item_format.manifest_path(path, v).unlink()
        for tmp in (path / item_format.MANIFESTS_DIR).glob(".*.tmp"):
            if tmp.stat().st_mtime <= cutoff:
                tmp.unlink()
        return removed

    def stats(self, key: str) -> dict:
        """EXT: operational stats for one item — row count, time bounds,
        partition/file counts. One aggregate scan (parquet footers serve
        the count; min/max read only the index column) plus a directory
        listing. The table an operator checks before/after compact()."""
        path = self._existing(key)
        idx = self._metadata.index_name
        _, live = item_format.live_year_dirs(path)
        dirs = self._manifest_paths(path, live)
        n_files = sum(len(list(Path(d).glob("*.parquet"))) for d in dirs)
        row = (
            self._read(path, dirs)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(idx).alias("lo"),
                F.max(idx).alias("hi"),
            )
            .collect()[0]
        )
        return {
            "key": key.upper(),
            "rows": row["n"],
            "min_ts": row["lo"],
            "max_ts": row["hi"],
            "partitions": len(live),
            "files": n_files,
        }

    def delete(self, key: str) -> None:
        """EXT: drop an item entirely (missing key -> ValueError, matching
        the reference's exists/not-exists error convention). Its staging
        dirs go too: a journaled swap left by a crash must not be replayed
        onto a new item under the same key."""
        path = self._existing(key)
        for stage in self._swap_stages(path):
            shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(path)

    def delete_range(self, key: str, start: datetime, end: datetime) -> int:
        """EXT: delete rows with ``start <= index <= end`` (inclusive,
        matching the query bounds) — :meth:`delete_where` with the
        index-range predicate, so only files holding rows in the range
        are rewritten and everything else is untouched. Only the range's
        years are scanned. Returns the number of rows deleted."""
        path = self._existing(key)
        idx = F.col(self._metadata.index_name)
        pred = (idx >= F.lit(start)) & (idx <= F.lit(end))

        def stage(live: dict[str, str]) -> _Staged | None:
            # only the range's years can hold a match: scan no others
            years = {y: d for y, d in live.items() if start.year <= int(y) <= end.year}
            return self._stage_delete_where(path, years, pred)

        return self._mutate(path, "delete", stage)

    def delete_where(self, key: str, predicate) -> int:
        """EXT: delete rows matching a VALUE predicate — the
        GDPR-style operational delete (``delete_where("EVENTS",
        "USER_ID = 42")``) that a time-window delete cannot express.
        ``predicate`` is a SQL string or Column over the item's columns
        (uppercase names + the index column).

        File-level pruning: ONE predicate-pushed scan tags each
        matching row with its source file (``input_file_name`` — the
        same skip decision the z-order/bloom file-stats relations in
        ``operators/layout.py`` make from persisted stats), and only
        files that actually CONTAIN matching rows are rewritten to
        their surviving rows. Every other file is untouched: unaffected
        years keep their live dirs, and unaffected files inside an
        affected year are hard-linked into its replacement (same inode,
        same bytes) under both protocols. Manifest items commit a new
        version ("delete" in the history); immutable generations keep
        the deleted rows reachable through snapshot()/restore() until
        vacuum. Returns rows deleted.

        NULL semantics (SQL three-valued logic): only rows where the
        predicate is TRUE are deleted. Rows where it evaluates NULL
        (e.g. a NULL-valued column) are SURVIVORS — kept via
        ``NOT coalesce(pred, false)`` so a NULL-predicate row
        co-located in a file with a true match is never silently
        dropped, and ``n_del`` counts exactly the TRUE rows.

        File identity for the untouched-file skip is compared as
        (year, basename) within each year's single live directory —
        never as absolute path strings, which diverge between
        ``input_file_name()`` URIs and a relative or symlinked
        ``base_path``.
        """
        path = self._existing(key)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        return self._mutate(
            path, "delete", lambda live: self._stage_delete_where(path, live, pred)
        )

    def _stage_delete_where(
        self, path: Path, live: dict[str, str], pred: Column
    ) -> _Staged | None:
        """Stage a predicate delete: the surviving rows of every file
        holding a match, plus hard links to the other files of those
        files' years. A year left with no rows is dropped on publish."""
        from urllib.parse import unquote, urlparse

        per_file = (
            self._read(path, self._manifest_paths(path, live))
            .where(pred)
            .withColumn("_file", F.input_file_name())
            .groupBy("_file")
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        if not per_file:
            return None
        affected = sorted(unquote(urlparse(r["_file"]).path) for r in per_file)
        hit: dict[str, set[str]] = {}
        for f in map(Path, affected):
            hit.setdefault(item_format.year_of(f.parent), set()).add(f.name)
        survivors = self._read(path, affected).where(~F.coalesce(pred, F.lit(False)))
        stage = self._stage(path, survivors)
        for y, names in hit.items():
            ydir = stage / item_format.year_dir_name(y)
            for f in sorted((path / live[y]).glob("*.parquet")):
                if f.name not in names:
                    ydir.mkdir(parents=True, exist_ok=True)
                    os.link(f, ydir / f.name)
        return _Staged(stage, tuple(hit), sum(int(r["_n"]) for r in per_file))

    # -- EXT: cross-section over many items ---------------------------------

    def read_multi(self, keys: list[str] | None = None,
                   start: datetime | None = None, end: datetime | None = None) -> DataFrame:
        """Union of item scans with a ``KEY`` column — the multi-series
        read the reference lacks (items are fully independent there,
        SURVEY.md §1.1). Stays lazy; per-item pruning still applies."""
        keys = keys if keys is not None else self.keys()
        if not keys:
            raise ValueError("no items to read")
        parts = [
            self._scan(key=k, start=start, end=end).withColumn("KEY", F.lit(k.upper()))
            for k in keys
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def sql(self, query: str, keys: list[str] | None = None) -> DataFrame:
        """EXT: run Spark SQL over store items as named relations — each
        item (default: all) is registered as a temp view under its
        uppercase key, then ``query`` executes against them. The SQL
        front door the reference lacks entirely (SURVEY.md §2: no query
        language — only the datetime slice):

            store.sql("SELECT a.DATE, a.CLOSE / b.CLOSE AS ratio "
                      "FROM MSFT a JOIN IBM b USING (DATE)")

        Views are lazy scans through the same pruning path as slicing
        (partition + row-group), so a WHERE on the index column still
        prunes years at 100 TB — Catalyst pushes the predicate into the
        scan the view wraps."""
        for k in (keys if keys is not None else self.keys()):
            self._scan(key=k, start=None, end=None).createOrReplaceTempView(k.upper())
        return self._spark.sql(query)
