"""Manifest-based snapshot table: Delta/Iceberg-style versioned reads,
time travel, optimistic concurrency, copy-on-write MERGE, and per-file
min/max data skipping over plain parquet files — no table-format jars
required (the image has none; see README limitations). This upgrades the
S14 story from "partition overwrite dance" to real snapshot semantics:

  * every commit writes its data files under ``data/commit-v{N}/`` and
    then publishes ``_manifests/v{N}.json`` listing the COMPLETE file set
    of that version (previous files + new for append; replacement set for
    replace/merge) plus per-file row counts and column min/max stats
    harvested from the parquet footers at commit time, and the committed
    frame's schema, so a read passes it and runs no footer-inference job;
  * publication is a single atomic ``os.link`` of a temp file onto the
    version path — it either fully succeeds or fails with EEXIST, so two
    racing writers cannot both claim a version (optimistic concurrency).
    ``commit_append`` rebases-and-retries on a lost race, and RE-CHECKS
    its idempotency tag against the winner's manifests first, so two
    writers replaying the same tagged micro-batch cannot double-publish
    (the loser discovers the winner carried the tag and no-ops). On a
    real object store the link is the conditional-PUT the formats use;
  * readers resolve a manifest ONCE and read exactly its files —
    concurrent commits never tear a read, and any historical version
    stays readable (time travel) until a vacuum drops it. A pruned read
    consults the manifest stats and opens only the files whose [min,max]
    interval can satisfy the predicate — the Delta/Iceberg data-skipping
    a 100 TB point lookup needs at the TABLE layer, before any footer is
    touched;
  * MERGE is copy-on-write: the merged result lands as a full new file
    set under a new version — the previous snapshot is untouched, so a
    failed merge changes nothing and a retry is safe.

At 100 TB the manifest holds file paths + footer stats, not data;
commits are O(new files), reads are O(manifest), and pruning is pure
manifest arithmetic. Manifests are immutable once published, so each
instance caches parsed manifests — tag lookups and reads are O(new
versions), not O(versions^2).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

#: manifest-stats value types that round-trip through JSON losslessly;
#: anything else (bytes, dates, nested leaves) is skipped conservatively
_JSONABLE = (bool, int, float, str)

#: bounded optimistic-concurrency retries — each loss means another
#: writer advanced the table, so livelock needs sustained contention
_MAX_COMMIT_RETRIES = 20


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first — re-read and retry."""


def _file_footer_meta(full_path: str) -> dict:
    """Row count + per-column [min, max] for ONE parquet file, from the
    footer only (no data pages read). A column's stats are kept only when
    every row group carries them and the values are JSON-safe — a missing
    row-group stat would make the file-level interval a lie, so it is
    dropped (the reader treats missing stats as "cannot prune")."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(full_path).metadata
    spans: dict[str, list] = {}
    covered: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        for i in range(rgm.num_columns):
            col = rgm.column(i)
            name = col.path_in_schema
            if "." in name:  # nested leaf — top-level columns only
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if not isinstance(mn, _JSONABLE) or not isinstance(mx, _JSONABLE):
                continue
            covered[name] = covered.get(name, 0) + 1
            cur = spans.get(name)
            spans[name] = (
                [mn, mx] if cur is None else [min(cur[0], mn), max(cur[1], mx)]
            )
    stats = {
        name: span
        for name, span in spans.items()
        if covered.get(name, 0) == md.num_row_groups and md.num_row_groups > 0
    }
    return {"rows": md.num_rows, "stats": stats}


def _span_can_match(span: list | None, lo, hi) -> bool:
    """True unless the recorded [min, max] PROVES no row satisfies
    ``col BETWEEN lo AND hi`` (null-rejecting semantics — NULLs never
    satisfy a range predicate). Missing stats keep the file: pruning must
    never be wrong, only sometimes useless."""
    if span is None:
        return True  # no stats — cannot prove absence
    mn, mx = span
    if lo is not None and mx < lo:
        return False
    if hi is not None and mn > hi:
        return False
    return True


#: manifest key-bloom geometry: ~8 bits/key at 6 probes gives ~2% false
#: positives — a false positive only opens one extra file, never wrong
_BLOOM_BITS_PER_KEY = 8
_BLOOM_NUM_HASH = 6


def _file_key_bloom(full_path: str, col: str) -> dict | None:
    """Per-file key bloom for the manifest (Delta-style bloom index):
    min/max pruning cannot prune POINT lookups on uniformly-distributed
    keys (every file's [min,max] spans the probe), so commit time also
    harvests a bloom over the key column — ONE column read of the
    just-written file (the same I/O class as a format's bloom index
    build), stored as sparse set-bit positions (JSON-safe, ~6 ints per
    key). Integer columns only; anything else returns None (reader
    treats a missing bloom as "cannot prune")."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.bloom_native import bloom_build_np, bloom_set_bits

    schema = pq.read_schema(full_path)
    if col not in schema.names or not pa.types.is_integer(schema.field(col).type):
        return None  # absent or non-integer column: no bloom, reader keeps file
    t = pq.read_table(full_path, columns=[col])
    keys = t[col].drop_null().to_numpy(zero_copy_only=False).astype(np.int64)
    num_bits = max(64, ((keys.size * _BLOOM_BITS_PER_KEY + 63) // 64) * 64)
    words = bloom_build_np(keys, num_bits, _BLOOM_NUM_HASH)
    return {
        "num_bits": num_bits,
        "num_hash": _BLOOM_NUM_HASH,
        "set_bits": bloom_set_bits(words),
    }


def _bloom_can_match(bloom: dict | None, key) -> bool:
    """True unless the file's manifest bloom PROVES the key absent —
    same never-wrong contract as _span_can_match (missing bloom or a
    non-integer probe keeps the file)."""
    if bloom is None or not isinstance(key, int) or isinstance(key, bool):
        return True
    import numpy as np

    from ..functions.bloom_native import bloom_from_set_bits, bloom_might_contain_np

    words = bloom_from_set_bits(bloom["set_bits"], bloom["num_bits"])
    return bool(
        bloom_might_contain_np(
            1, bloom["num_hash"], 0, words, np.asarray([key], dtype=np.int64)
        )[0]
    )


def _appended_schema(base: dict, batch: dict) -> dict | None:
    """Schema of an append's manifest: the base version's columns, then
    any column the batch adds (the base's files read NULL there). None
    when the base manifest predates recorded schemas — its columns are
    unknown, so reads of the new version keep inferring."""
    if not base:
        return batch
    if base.get("schema") is None:
        return None
    fields = list(base["schema"]["fields"])
    # names match case-insensitively, as Spark resolves them by default
    have = {f["name"].lower() for f in fields}
    fields += [f for f in batch["fields"] if f["name"].lower() not in have]
    return {"type": "struct", "fields": fields}


class SnapshotTable:
    def __init__(self, path: str, bloom_cols: tuple[str, ...] = ()):
        self.path = path
        self._data = os.path.join(path, "data")
        self._manifests = os.path.join(path, "_manifests")
        #: columns to harvest per-file key blooms for at commit time
        self.bloom_cols = tuple(bloom_cols)
        # manifests are immutable once published (atomic os.link claim),
        # so parsed manifests cache per instance; vacuum invalidates
        self._mcache: dict[int, dict] = {}

    # ----------------------------------------------------------- versions

    def versions(self) -> list[int]:
        if not os.path.isdir(self._manifests):
            return []
        out = []
        for f in os.listdir(self._manifests):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifests, f"v{version}.json")

    def _read_manifest(self, version: int) -> dict:
        if version not in self._mcache:
            with open(self._manifest_path(version)) as f:
                self._mcache[version] = json.load(f)
        return self._mcache[version]

    def _reader(self, spark: SparkSession, manifest: dict):
        """A parquet reader given the manifest's recorded schema: no footer
        inference job. A manifest written before schemas were recorded
        reads by inference."""
        schema = manifest.get("schema")
        if schema is None:
            return spark.read
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(schema))

    # ------------------------------------------------------------- commit

    def _write_files(self, df: DataFrame, version: int) -> list[str]:
        """Land the dataframe's files for ``version``; returns paths
        relative to the table root. The commit dir name embeds a uuid so
        a LOSING writer's files never collide with the winner's (and a
        rebase republishing the same files at a later version is safe)."""
        sub = f"commit-v{version}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self._data, sub)
        df.write.parquet(out_dir)
        return [
            os.path.join("data", sub, f)
            for f in sorted(os.listdir(out_dir))
            if f.endswith(".parquet")
        ]

    def _meta_for(self, files: list[str]) -> dict[str, dict]:
        out = {}
        for rel in files:
            full = os.path.join(self.path, rel)
            meta = _file_footer_meta(full)
            if self.bloom_cols:
                blooms = {}
                for col in self.bloom_cols:
                    b = _file_key_bloom(full, col)
                    if b is not None:
                        blooms[col] = b
                if blooms:
                    meta["blooms"] = blooms
            out[rel] = meta
        return out

    def _publish(
        self,
        version: int,
        files: list[str],
        op: str,
        tag: str | None = None,
        file_meta: dict[str, dict] | None = None,
        schema: dict | None = None,
        lineage: dict | None = None,
    ) -> int:
        """Claim ``version`` with a manifest listing ``files``. ``schema``
        (``StructType.jsonValue()`` of the committed frame) lets every read
        of the version skip footer inference. ``lineage`` is the caller's
        record of what the version covers (io's incremental index store
        keeps its chain there), stored as given."""
        os.makedirs(self._manifests, exist_ok=True)
        tmp = os.path.join(self._manifests, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "op": op,
                    "files": files,
                    "tag": tag,
                    "file_meta": file_meta or {},
                    "schema": schema,
                    "lineage": lineage,
                },
                f,
                indent=1,
            )
        try:
            # atomic claim: link fails with EEXIST if another writer won
            os.link(tmp, self._manifest_path(version))
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {version} already committed — rebase and retry"
            ) from None
        finally:
            os.unlink(tmp)
        return version

    def commit_append(
        self,
        df: DataFrame,
        tag: str | None = None,
        base_version: int | None = None,
        lineage: dict | None = None,
    ) -> int | None:
        """Append a new version, rebasing on lost version races. ``tag``
        makes the commit idempotent per tag (e.g. a content fingerprint of
        a streaming micro-batch): if any manifest already carries it, the
        call is a no-op returning None — the exactly-once contract a
        replayed foreachBatch needs, enforced at the SINK. The tag is
        re-checked after EVERY lost race, so two writers racing the same
        tagged batch resolve to exactly one published version (the loser
        sees the winner's tag on rebase and no-ops); data files are
        written once and re-pointed by the retried manifest.

        ``base_version`` appends RELATIVE TO A PINNED SNAPSHOT instead of
        the current one: the new manifest lists that version's files (by
        reference — zero bytes rewritten) plus the new rows' files. This
        is the incremental-index maintenance op (io.memo_checkpoint_
        rowwise): a multi-tenant artifact family where versions for other
        corpus snapshots land in between must chain each child onto ITS
        parent, not onto whatever happens to be current."""
        if tag is not None and tag in self.committed_tags():
            return None
        new_files: list[str] | None = None
        new_meta: dict[str, dict] = {}
        batch_schema = df.schema.jsonValue()
        for _ in range(_MAX_COMMIT_RETRIES):
            base = self.current_version()
            src = base_version if base_version is not None else base
            prev = self._read_manifest(src) if src is not None else {}
            prev_files = prev.get("files", [])
            prev_meta = prev.get("file_meta", {})
            version = (base if base is not None else -1) + 1
            if new_files is None:
                new_files = self._write_files(df, version)
                new_meta = self._meta_for(new_files)
            try:
                return self._publish(
                    version,
                    prev_files + new_files,
                    "append",
                    tag=tag,
                    file_meta={**prev_meta, **new_meta},
                    schema=_appended_schema(prev, batch_schema),
                    lineage=lineage,
                )
            except ConcurrentCommitError:
                if tag is not None and tag in self.committed_tags():
                    return None  # the race winner carried our tag
                continue  # plain version race — rebase on the new base
        raise ConcurrentCommitError(
            f"append lost {_MAX_COMMIT_RETRIES} version races — giving up"
        )

    def committed_tags(self) -> set[str]:
        return {
            t
            for v in self.versions()
            if (t := self._read_manifest(v).get("tag")) is not None
        }

    def commit_replace(
        self, df: DataFrame, tag: str | None = None, lineage: dict | None = None
    ) -> int | None:
        """Replace the current snapshot. ``tag`` gives replace the same
        per-tag idempotency as commit_append (a replayed daily build that
        produced identical content no-ops instead of publishing a
        duplicate version); the tag is re-checked after every lost
        race."""
        if tag is not None and tag in self.committed_tags():
            return None
        files: list[str] | None = None
        meta: dict[str, dict] = {}
        for _ in range(_MAX_COMMIT_RETRIES):
            base = self.current_version()
            version = (base if base is not None else -1) + 1
            if files is None:
                files = self._write_files(df, version)
                meta = self._meta_for(files)
            try:
                return self._publish(
                    version, files, "replace", tag=tag, file_meta=meta,
                    schema=df.schema.jsonValue(), lineage=lineage,
                )
            except ConcurrentCommitError:
                if tag is not None and tag in self.committed_tags():
                    return None  # the race winner carried our tag
                continue  # replace does not depend on base content — rebase
        raise ConcurrentCommitError(
            f"replace lost {_MAX_COMMIT_RETRIES} version races — giving up"
        )

    def commit_merge(self, updates: DataFrame, key_cols: list[str]) -> int:
        """Copy-on-write MERGE (the S14 semantics): rows in ``updates``
        REPLACE current rows with the same key; unmatched update rows
        INSERT. The merged result is a full new snapshot — the base
        version remains readable and a failed/abandoned merge publishes
        nothing. A lost version race raises ``ConcurrentCommitError``
        WITHOUT retrying: the merge result was computed against the old
        base, so the caller must recompute against the new one (the
        semantic conflict Delta's MERGE also surfaces)."""
        spark = updates.sparkSession
        base = self.current_version()
        if base is None:
            return self.commit_replace(updates)
        current = self.read(spark, base)
        keep = current.join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = keep.unionByName(updates)
        version = base + 1
        files = self._write_files(merged, version)
        return self._publish(
            version, files, "merge", file_meta=self._meta_for(files),
            schema=merged.schema.jsonValue(),
        )

    def compact(
        self,
        spark: SparkSession,
        target_bytes: int = 128 * 1024 * 1024,
        tag: str | None = None,
    ) -> dict:
        """Bin-pack the CURRENT snapshot's small files (the Delta
        OPTIMIZE / Iceberg rewrite_data_files semantics): files smaller
        than ``target_bytes // 2`` are read together and rewritten as
        ~``target_bytes`` files under a new version; files already at
        size are CARRIED OVER by reference — their bytes are never
        rewritten, so compaction cost is O(small bytes), not O(table).
        Copy-on-write like everything here: the base version stays
        readable (time travel) until vacuumed, and a crashed compaction
        publishes nothing. Returns an accounting dict; no-ops (returning
        ``{"compacted": 0, ...}``) when fewer than two small files
        exist — one small file gains nothing from a rewrite.

        Why it exists: a streaming sink committing per-trigger creates
        thousands of KB-sized files; at 100 TB a scan's task count (and
        the manifest itself) grows with FILE count, not data volume —
        periodic compaction is what keeps both proportional to data."""
        base = self.current_version()
        if base is None:
            raise FileNotFoundError(f"{self.path}: no committed version")
        m = self._read_manifest(base)
        meta = m.get("file_meta", {})
        small, big = [], []
        for rel in m["files"]:
            try:
                sz = os.path.getsize(os.path.join(self.path, rel))
            except OSError:
                sz = target_bytes  # unreadable size: leave it alone
            (small if sz < target_bytes // 2 else big).append((rel, sz))
        if len(small) < 2:
            return {"compacted": 0, "carried": len(m["files"]), "version": base}
        small_bytes = sum(sz for _rel, sz in small)
        n_out = max(1, (small_bytes + target_bytes - 1) // target_bytes)
        df = self._reader(spark, m).parquet(
            *[os.path.join(self.path, rel) for rel, _sz in small]
        ).coalesce(int(n_out))
        version = base + 1
        new_files = self._write_files(df, version)
        carried = [rel for rel, _sz in big]
        carried_meta = {rel: meta[rel] for rel in carried if rel in meta}
        self._publish(
            version,
            carried + new_files,
            "compact",
            tag=tag,
            file_meta={**carried_meta, **self._meta_for(new_files)},
            schema=df.schema.jsonValue(),
        )
        return {
            "compacted": len(small),
            "rewritten_files": len(new_files),
            "carried": len(carried),
            "small_bytes": small_bytes,
            "version": version,
        }

    # --------------------------------------------------------------- read

    def files(
        self,
        version: int | None = None,
        prune: dict[str, tuple] | None = None,
        prune_keys: dict[str, int] | None = None,
    ) -> list[str]:
        """The file list of one snapshot after manifest-stats pruning.
        ``prune`` maps column -> (lo, hi) (either bound None = open); a
        file is skipped only when its recorded [min, max] PROVES no row
        can satisfy ``col BETWEEN lo AND hi``. ``prune_keys`` maps
        column -> exact key: a file is additionally skipped when its
        manifest KEY BLOOM proves the key absent — the point-lookup case
        min/max cannot prune when every file's interval spans the probe
        (uniformly-distributed keys). Files without stats/blooms for the
        column are kept, so pruning is never wrong, only sometimes
        useless. Pure manifest arithmetic: no footer or data file is
        opened here."""
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"{self.path}: no committed version")
        m = self._read_manifest(v)
        files = m["files"]
        if not prune and not prune_keys:
            return list(files)
        meta = m.get("file_meta", {})
        out = []
        for rel in files:
            fm = meta.get(rel)
            if fm is not None and fm.get("rows", 1) == 0:
                continue  # provably empty file
            stats = (fm or {}).get("stats", {})
            blooms = (fm or {}).get("blooms", {})
            if not all(
                _span_can_match(stats.get(col), lo, hi)
                for col, (lo, hi) in (prune or {}).items()
            ):
                continue
            if not all(
                # a point probe also consults the min/max span — the
                # bloom and the interval prune independently
                _span_can_match(stats.get(col), key, key)
                and _bloom_can_match(blooms.get(col), key)
                for col, key in (prune_keys or {}).items()
            ):
                continue
            out.append(rel)
        return out

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        prune: dict[str, tuple] | None = None,
        prune_keys: dict[str, int] | None = None,
    ) -> DataFrame:
        """Read one pinned snapshot (latest by default). The file list is
        resolved from the manifest HERE, once — later commits cannot tear
        this read, and any retained version time-travels. With ``prune``
        (ranges) / ``prune_keys`` (point lookups via the manifest key
        blooms), only files whose manifest stats can satisfy the
        predicates are opened AND the corresponding filters are applied
        to the rows, so a pruned read is exactly the unpruned read
        filtered — skipping is an optimization, never a semantics
        change (a bloom false positive opens one extra file whose rows
        the equality filter then rejects)."""
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"{self.path}: no committed version")
        kept = self.files(v, prune, prune_keys)
        m = self._read_manifest(v)
        if not kept:
            # every file pruned — an empty frame with the table schema
            # (the where(false) folds the scan)
            all_files = m["files"]
            if not all_files:
                raise FileNotFoundError(f"{self.path}: version {v} is empty")
            from pyspark.sql import functions as F

            return self._reader(spark, m).parquet(
                *[os.path.join(self.path, f) for f in all_files]
            ).where(F.lit(False))
        df = self._reader(spark, m).parquet(*[os.path.join(self.path, f) for f in kept])
        if prune:
            from pyspark.sql import functions as F

            for col, (lo, hi) in prune.items():
                if lo is not None:
                    df = df.where(F.col(col) >= lo)
                if hi is not None:
                    df = df.where(F.col(col) <= hi)
        if prune_keys:
            from pyspark.sql import functions as F

            for col, key in prune_keys.items():
                df = df.where(F.col(col) == key)
        return df

    # ------------------------------------------------------------- vacuum

    def vacuum(self, keep_versions: int = 1, protect=()) -> dict:
        """Drop manifests older than the newest ``keep_versions`` and
        delete data files no retained manifest references. Versions in
        ``protect`` (ones a live reader still scans) are retained whatever
        their age. Bounded driver-side metadata work (file LISTS, never
        data)."""
        vs = self.versions()
        newest = vs[-keep_versions:] if keep_versions > 0 else []
        retained = [v for v in vs if v in newest or v in protect]
        live: set[str] = set()
        for v in retained:
            live.update(self._read_manifest(v)["files"])
        removed_files = 0
        for root, _dirs, files in os.walk(self._data):
            for f in files:
                rel = os.path.relpath(os.path.join(root, f), self.path)
                if f.endswith(".parquet") and rel not in live:
                    os.unlink(os.path.join(self.path, rel))
                    removed_files += 1
        removed_manifests = 0
        for v in vs:
            if v not in retained:
                os.unlink(self._manifest_path(v))
                self._mcache.pop(v, None)
                removed_manifests += 1
        return {
            "removed_files": removed_files,
            "removed_manifests": removed_manifests,
            "retained_versions": retained,
        }
