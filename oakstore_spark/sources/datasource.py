"""Spark 4 Python DataSource for the store: ``spark.read.format(
"oakstore").option("path", base).option("key", "MSFT")``.

Why this exists alongside ``store[k].df()``: the DataSource API makes
the store a first-class Spark *source* — usable from pure SQL
(``CREATE TABLE ... USING oakstore`` via ``spark.dataSource.register``),
from other sessions with no oakstore_spark import at call sites, and
with Spark's own planner driving the scan. It also demonstrates the two
properties a custom source must get right at 100 TB:

- **Partition planning**: one ``InputPartition`` per parquet file of the
  item (manifest-aware — only the LIVE generation's files are listed),
  so a 1000-executor cluster reads a big item fully in parallel.
- **Filter pushdown** (``pushFilters``): range predicates on the index
  column are absorbed by the source — whole YEAR partitions outside the
  bounds are pruned from the file listing (never become tasks), and the
  per-file reader passes the residual range to pyarrow as a row filter.
  Spark re-applies nothing the source absorbed. Requires
  ``spark.sql.python.filterPushdown.enabled=true`` — set it per session
  where oakstore-source reads run, NOT globally: measured ~20% planning
  overhead on EVERY query when the flag is on (it inserts an extra
  planning phase), so the engine's default session leaves it off.

The reader yields Arrow ``RecordBatch`` objects (zero-copy into Spark's
Arrow pipeline), never Python rows.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    DataSourceArrowWriter,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from oakstore_spark import item_format

_NAME_TO_SPARK = {
    "double": T.DoubleType(),
    "bigint": T.LongType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
}


def _resolve_path(p: str) -> Path:
    """Option values arrive as plain paths from the reader API but as
    file: URIs from SQL `CREATE TABLE ... USING oakstore` — accept both."""
    if p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return Path(unquote(urlparse(p).path))
    return Path(p)


def _base_option(options) -> Path:
    """The store base dir: `store_path` (SQL-safe — Spark strips/renames
    the special `path` option for catalog tables) or `path`."""
    p = options.get("store_path") or options.get("path")
    if not p:
        # NOTE: `CREATE TABLE ... USING oakstore` catalog tables reach
        # the source with EMPTY options in this Spark build (catalog
        # option passthrough for Python data sources is not wired); the
        # SQL route is load() + createOrReplaceTempView.
        raise ValueError("option 'path' (or 'store_path') is required")
    return _resolve_path(p)


@dataclass
class _FilePartition(InputPartition):
    file_path: str


class OakStoreDataSource(DataSource):
    """``format("oakstore")`` — read a store item as a Spark table."""

    @classmethod
    def name(cls) -> str:
        return "oakstore"

    def _meta(self) -> tuple[str, dict[str, str], dict, dict]:
        base = _base_option(self.options)
        doc = json.loads((base / "_metadata.json").read_text())
        return (
            doc["index_name"],
            doc["column_schema"],
            doc.get("defaults", {}),
            doc.get("physical", {}),
        )

    def schema(self) -> T.StructType:
        idx, cols, _defaults, _phys = self._meta()
        fields = [T.StructField(idx, T.TimestampType())]
        fields += [
            T.StructField(name, _NAME_TO_SPARK[tname]) for name, tname in cols.items()
        ]
        return T.StructType(fields)

    def reader(self, schema: T.StructType) -> DataSourceReader:
        base = _base_option(self.options)
        key = self.options["key"].upper()
        idx, _cols, defaults, phys = self._meta()
        return OakStoreReader(
            base / "items" / key, idx, schema, defaults, phys
        )

    def writer(self, schema: T.StructType, overwrite: bool):
        """Python DataSources only accept Append/Overwrite save modes;
        the store's errorifexists create maps onto mode('append') to a
        key that does not exist yet (append-to-existing and overwrite
        are refused — dedup-append lives in ``store[k] += df``)."""
        import uuid as _uuid

        if overwrite:
            raise ValueError(
                "mode('overwrite') unsupported: store items are immutable "
                "once created (reference errorifexists semantics); use "
                "Store.delete + rewrite, or append via store[k] += df"
            )
        base = _base_option(self.options)
        key = self.options["key"].upper()
        idx, cols, _defaults, phys = self._meta()
        declared = {idx} | set(cols)
        if set(f.name for f in schema.fields) != declared:
            raise ValueError(
                f"DataFrame columns {sorted(f.name for f in schema.fields)} "
                f"must match the store schema {sorted(declared)} exactly "
                "(normalize/cast upstream)"
            )
        item = base / "items" / key
        if item_format.is_manifest_item(item) or item_format.year_dirs(item):
            raise ValueError(f"key={key} already exists")
        return OakStoreBatchWriter(item, idx, _uuid.uuid4().hex, phys)

    def simpleStreamReader(self, schema: T.StructType):  # noqa: N802
        base = _base_option(self.options)
        key = self.options["key"].upper()
        item = base / "items" / key
        if not item_format.is_manifest_item(item):
            raise ValueError(
                "streaming CDC reads require commit_protocol='manifest' "
                f"(item {key} has no manifest history)"
            )
        idx, _cols, defaults, phys = self._meta()
        return OakStoreStreamReader(item, idx, schema, defaults, phys)


class OakStoreReader(DataSourceReader):
    def __init__(
        self,
        item_path: Path,
        index_name: str,
        schema: T.StructType,
        defaults: dict | None = None,
        physical: dict | None = None,
    ):
        self._item = item_path
        self._idx = index_name
        self._schema = schema
        self._defaults = defaults or {}
        self._physical = physical or {}  # logical -> on-disk name
        self._lo: datetime | None = None  # inclusive
        self._hi: datetime | None = None  # inclusive
        self._lo_strict = False
        self._hi_strict = False

    # -- filter pushdown ---------------------------------------------------

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (API name)
        """Absorb range predicates on the index column; everything else
        is returned for Spark to evaluate. Absorbed bounds drive both
        year-directory pruning (partition planning) and the pyarrow
        row-level filter in read()."""
        for f in filters:
            col = getattr(f, "attribute", None)
            if (
                col == (self._idx,)
                and isinstance(
                    f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
                )
                and isinstance(f.value, datetime)
            ):
                v = f.value
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    strict = isinstance(f, GreaterThan)
                    if self._lo is None or v > self._lo:
                        self._lo, self._lo_strict = v, strict
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    strict = isinstance(f, LessThan)
                    if self._hi is None or v < self._hi:
                        self._hi, self._hi_strict = v, strict
            else:
                yield f

    # -- planning ----------------------------------------------------------

    def _year_dirs(self) -> list[Path]:
        """Live year dirs (manifest-aware), pruned by pushed-down bounds."""
        _, live = item_format.live_year_dirs(self._item)
        return [
            self._item / rel
            for year, rel in sorted(live.items())
            if (self._lo is None or int(year) >= self._lo.year)
            and (self._hi is None or int(year) <= self._hi.year)
        ]

    def partitions(self) -> list[InputPartition]:
        parts = [
            _FilePartition(str(f))
            for d in self._year_dirs()
            for f in sorted(d.glob("*.parquet"))
        ]
        # empty result still needs >= 1 partition for a valid scan
        return parts or [_FilePartition("")]

    # -- execution ---------------------------------------------------------

    def read(self, partition: _FilePartition):
        if not partition.file_path:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        cols = [f.name for f in self._schema.fields]
        pf = pq.ParquetFile(partition.file_path)
        names = set(pf.schema_arrow.names)
        # metadata-only renames: files carry PHYSICAL names; read those
        # and alias back to the logical surface
        present = [
            c for c in cols if self._physical.get(c, c) in names
        ]
        table = pq.read_table(
            partition.file_path,
            columns=[self._physical.get(c, c) for c in present],
        )
        table = table.rename_columns(present)
        # evolved columns absent from pre-evolution files: fill the
        # declared default (same contract as the store's read path)
        for c in cols:
            if c not in present:
                table = table.append_column(
                    c, pa.array([self._defaults.get(c)] * len(table))
                )
        table = table.select(cols)
        # Spark's Arrow bridge accepts only microsecond timestamps; the
        # parquet column may come back as ns (and tz-naive)
        arrow_types = {
            "timestamp": pa.timestamp("us", tz="UTC"),
            "double": pa.float64(),
            "bigint": pa.int64(),
            "string": pa.string(),
            "boolean": pa.bool_(),
        }
        target = pa.schema(
            [
                pa.field(f.name, arrow_types[f.dataType.simpleString()])
                for f in self._schema.fields
            ]
        )
        table = table.cast(target)
        # residual row filter for the absorbed range predicates.
        # Stored timestamps are UTC instants; pushed-down datetimes are
        # session-local naive values — compare in the same frame.
        mask = None
        idx = table[self._idx]
        for bound, strict, op in (
            (self._lo, self._lo_strict, "greater"),
            (self._hi, self._hi_strict, "less"),
        ):
            if bound is None:
                continue
            if bound.tzinfo is None:
                bound = bound.replace(tzinfo=timezone.utc)
            fn = getattr(pc, op if strict else f"{op}_equal")
            m = fn(idx, bound)
            mask = m if mask is None else pc.and_(mask, m)
        if mask is not None:
            table = table.filter(mask)
        yield from table.to_batches(max_chunksize=1 << 16)


class OakStoreStreamReader(SimpleDataSourceStreamReader):
    """CDC stream over a manifest item: offsets are manifest VERSIONS;
    each micro-batch is the rows inserted between two committed
    versions (the streaming form of ``Store.diff``). Version 0 means
    "before the first commit", so a fresh query's first batch replays
    the whole item, then follows appends commit-by-commit.

    Driver-side reads (the SimpleDataSourceStreamReader contract) are
    appropriate here: a batch is bounded by what one append committed,
    not by table size — only year partitions whose generation changed
    between the offsets are read, via pyarrow directly (no Spark jobs
    from inside the streaming planner thread)."""

    def __init__(
        self,
        item_path: Path,
        index_name: str,
        schema: T.StructType,
        defaults: dict | None = None,
        physical: dict | None = None,
    ):
        self._item = item_path
        self._idx = index_name
        self._cols = [f.name for f in schema.fields]
        self._defaults = defaults or {}
        self._physical = physical or {}

    def _mapping(self, version: int) -> dict[str, str]:
        if version == 0:
            return {}
        try:
            return item_format.read_manifest(self._item, version)["years"]
        except FileNotFoundError:
            # the checkpointed offset was vacuumed away — re-reading from
            # version 0 would silently re-emit the whole item as inserts,
            # so fail loudly; the operator restarts with a fresh
            # checkpoint (and a retention window longer than downtime)
            raise ValueError(
                f"manifest v{version} no longer exists (vacuumed); "
                "restart the stream from a fresh checkpoint"
            ) from None

    def _latest_version(self) -> int:
        return max(item_format.versions(self._item), default=0)

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"version": 0}

    def _rows_between(self, v_from: int, v_to: int):
        import pyarrow.parquet as pq

        if v_to <= v_from:
            return
        m_from = self._mapping(v_from)
        m_to = self._mapping(v_to)
        changed = {y: rel for y, rel in m_to.items() if m_from.get(y) != rel}
        for year in sorted(changed):
            t = pq.read_table(str(self._item / changed[year]))
            new = t.to_pandas()
            # physical -> logical aliasing (metadata-only renames)
            ren = {
                p: c
                for c, p in self._physical.items()
                if p in new.columns and c not in new.columns
            }
            if ren:
                new = new.rename(columns=ren)
            for c in self._cols:  # evolved columns -> declared default
                if c not in new.columns:
                    new[c] = self._defaults.get(c)
            new = new[self._cols]
            if year in m_from:
                # anti-join BEFORE any tz normalization so both sides
                # compare in the same (stored) frame
                old_idx = pq.read_table(
                    str(self._item / m_from[year]), columns=[self._idx]
                ).to_pandas()[self._idx]
                new = new[~new[self._idx].isin(set(old_idx))]
            # Spark's row converter needs tz-aware timestamps (stored
            # values are UTC instants; parquet may surface them naive)
            if new[self._idx].dt.tz is None:
                new = new.assign(**{self._idx: new[self._idx].dt.tz_localize("UTC")})
            for row in new.sort_values(self._idx).itertuples(index=False):
                yield tuple(row)

    def read(self, start: dict):
        latest = self._latest_version()
        # materialize, then hand back a LIST ITERATOR: the prefetch
        # wrapper needs a real iterator (its empty-batch validation
        # calls next()), and its replay path copy.copy()s it — both of
        # which a list_iterator supports and a generator does not. CDC
        # batches are bounded by one append's volume.
        rows = list(self._rows_between(start["version"], latest))
        return iter(rows), {"version": latest}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        return list(self._rows_between(start["version"], end["version"]))


@dataclass
class _WriteCommit(WriterCommitMessage):
    years: list  # [(year, generation-relative file name), ...]


class OakStoreBatchWriter(DataSourceArrowWriter):
    """``df.write.format("oakstore")`` — distributed bulk CREATE of a
    store item, always under the manifest protocol so the commit story
    is exact: every task writes its files into one shared immutable
    generation directory (invisible — no manifest references it yet);
    the driver-side ``commit()`` publishes manifest v1 as a single
    object only after every task succeeded, and ``abort()`` removes the
    orphan generation. A reader can never observe a torn table.

    Invariants vs ``Store.__setitem__``: rows are year-bucketed and
    sorted per file (parquet row-group min/max stays effective);
    GLOBAL disjointness of files is the caller's layout choice
    (repartitionByRange on the index upstream) — the store's read paths
    do not require it. Dedup/append semantics stay with
    ``store[k] += df``; this writer is the parallel initial-load path.
    """

    def __init__(
        self,
        item_path: Path,
        index_name: str,
        gen: str,
        physical: dict | None = None,
    ):
        self._item = item_path
        self._idx = index_name
        self._gen_dir = item_format.generation_dir(item_path, gen)
        self._physical = physical or {}

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        by_year: dict[int, list] = {}
        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            if self._physical:
                tbl = tbl.rename_columns(
                    [self._physical.get(c, c) for c in tbl.schema.names]
                )
            years = pc.year(tbl[self._idx])
            for y in pc.unique(years).to_pylist():
                by_year.setdefault(y, []).append(
                    tbl.filter(pc.equal(years, y))
                )
        out = []
        for y, tables in by_year.items():
            merged = pa.concat_tables(tables).sort_by(self._idx)
            fname = f"part-{_uuid.uuid4().hex}.parquet"
            ydir = self._gen_dir / item_format.year_dir_name(y)
            ydir.mkdir(parents=True, exist_ok=True)
            pq.write_table(merged, str(ydir / fname), compression="snappy")
            out.append((int(y), fname))
        return _WriteCommit(years=out)

    def commit(self, messages):
        years = sorted({y for m in messages if m for y, _f in m.years})
        mapping = {
            str(y): (self._gen_dir / item_format.year_dir_name(y))
            .relative_to(self._item)
            .as_posix()
            for y in years
        }
        self._item.mkdir(parents=True, exist_ok=True)
        try:
            item_format.write_manifest(self._item, 1, mapping, "bulk_write")
        except FileExistsError:
            raise RuntimeError(
                f"item {self._item.name} was created concurrently"
            ) from None

    def abort(self, messages):
        import shutil

        shutil.rmtree(self._gen_dir, ignore_errors=True)
