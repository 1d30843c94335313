"""Exactly-once key-bucketed MERGE sink (operator S8 + §4 fence).

Semantics target: Iceberg ``MERGE INTO target USING batch ON
t.url = s.url WHEN MATCHED ... WHEN NOT MATCHED INSERT`` with an
idempotency fence. This container has no Iceberg jars, so the sink
implements the same contract over parquet with a tiny manifest layer
(the shape Iceberg itself uses — per-bucket data files + an atomic
commit pointer):

    <path>/data/v=<ver>/bucket=<b>/*.parquet   immutable data files
    <path>/_commits/<ver>.json                 commit metadata
    <path>/_latest                             atomic pointer (os.replace)

Two write strategies share one commit/fence layer (constructor
``write_mode``): copy-on-write (default) rewrites ONLY the buckets
the batch touches (partition-pruned read of the current state), while
merge-on-read appends the batch as immutable per-bucket DELTA files —
one Spark job per batch, resolved per key at read time and folded
back into a base by ``compact()``. Every write flips the pointer
last. Replayed batches (same or older ``batch_id``) are detected at
the fence and skipped — the exactly-once upgrade over the reference's
at-least-once Kafka emit (As400OffsetContext.java:109-129; data-loss
note README.md:366-369).

The latest commit is the sink's whole state (the reference's one
offset map; Iceberg's current snapshot): every commit carries the
full table state forward, so each lookup reads one file and
``expire_versions`` loses nothing but time travel. One commit holds:

    version, kind, ts         this commit
    buckets                   bucket -> base data version
    deltas                    bucket -> pending merge-on-read versions
    num_buckets, schema,      table layout and declared schema
      schema_version
    batch_id                  global batch counter (tailer fence)
    writer_batch_ids          writer_id -> last batch id (writer fences)
    watermark                 tailer-domain (receiver_idx, seq)
    writer_watermarks         writer_id -> (receiver_idx, seq)
    applied                   receiver_idx -> [max seq, events applied],
                              rolled up over every merge so far
    partitions                this merge's own lineage rows (FIXTURES §3)

Reads are schema-given: every merge, schema change and rewrite
commit declares its table schema, so ``read()`` hands it to the
parquet scan (mor delta files add the ``__deleted`` marker) and builds
its DataFrame without a schema-inference job. An ``init_snapshot``
commit declares none (the snapshot frame's columns would conform
``__deleted`` away at the first rewrite-mode merge), so until the
first merge declares one, a read infers as before.

On a real cluster the identical interface binds to Iceberg
(``merge`` -> SQL MERGE INTO + snapshot-property fence); the manifest
code below is the local stand-in, not the design.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_connector_ibmi_spark.operators.compaction import (
    last_event_per_key_agg,
)


def _ddl(decl: list[list[str]]) -> str:
    """A declared commit schema ([[name, sparkTypeString], ...]) as a
    DDL string (parsed JVM-side in one call)."""
    return ", ".join(f"`{n}` {t}" for n, t in decl)


def _delta_schema(decl: list[list[str]]) -> list[list[str]]:
    """Columns of a merge-on-read delta file: the declared schema plus
    the ``__deleted`` tombstone marker (already declared in
    ``delete_mode="rewrite"``)."""
    dd = [list(x) for x in decl]
    if not any(n == "__deleted" for n, _ in dd):
        dd.append(["__deleted", "boolean"])
    return dd


class KeyBucketedTarget:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "url",
        num_buckets: int = 32,
        delete_mode: str = "drop",
        write_mode: str = "cow",
    ):
        """``write_mode`` selects the merge strategy (Iceberg's
        ``write.merge.mode`` analogue):

        - ``cow`` (copy-on-write, default): every merge reads the
          touched buckets' current state and rewrites them resolved —
          reads stay single-file-per-bucket, but the hot path pays a
          pre-write bucket-discovery pass (the bucket set must be
          known at PLAN time to read current state) plus read+rewrite
          amplification proportional to bucket size.
        - ``mor`` (merge-on-read): a merge writes the pre-compacted
          batch as immutable DELTA files per bucket — ONE Spark job
          per batch, no current-state read, no pre-write discovery
          (touched buckets fall out of the written partition dirs).
          Readers resolve base+deltas per key by position;
          ``compact()`` folds deltas back into a base. This is the
          shape a 100 TB hot path wants: per-batch cost scales with
          the BATCH, not with bucket size.

        Both modes fence identically and interoperate on one target:
        reads always resolve any pending deltas, and a cow merge (or
        ``compact``/``rescale_buckets``/``update_schema``) clears the
        deltas it consumed."""
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"unknown write_mode {write_mode!r}")
        self.spark = spark
        self.path = path.rstrip("/")
        self.key = key
        self.num_buckets = num_buckets
        self.delete_mode = delete_mode
        self.write_mode = write_mode
        os.makedirs(f"{self.path}/_commits", exist_ok=True)
        # bucket count is a property of the DATA, not the caller: a
        # target with history adopts its committed count (the
        # constructor arg only sizes fresh targets). Without this, a
        # mismatched caller computes touched-bucket sets under one
        # modulus against files laid out under another — reads miss
        # rows silently. Older commits predate the field; they keep
        # the constructor value (all writers used the same default).
        c = self.last_commit()
        if c is not None and "num_buckets" in c:
            self.num_buckets = int(c["num_buckets"])

    @classmethod
    def for_config(cls, spark: SparkSession, cfg) -> KeyBucketedTarget:
        """The target an ``EngineConfig`` pipeline writes."""
        return cls(
            spark,
            cfg.target_path,
            key=cfg.key_column,
            num_buckets=cfg.num_buckets,
            delete_mode=cfg.delete_mode,
            write_mode=cfg.merge_write_mode,
        )

    # ---- commit bookkeeping -----------------------------------------

    def _latest_version(self) -> int:
        try:
            with open(f"{self.path}/_latest") as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return -1

    def last_commit(self) -> dict | None:
        v = self._latest_version()
        return None if v < 0 else self.commit_at(v)

    def _commit_metadata(self, **meta) -> None:
        """Metadata-only commit: the latest commit (or an empty
        table's skeleton) carried forward with ``meta`` applied."""
        last = self.last_commit() or {
            "batch_id": -1,
            "buckets": {},
            "watermark": None,
            "schema_version": -1,
        }
        self._write_commit(
            {
                **last,
                "version": self._latest_version() + 1,
                "partitions": [],  # lineage rows belong to merge commits only
                "ts": time.time(),
                **meta,
            }
        )

    def _write_commit(self, commit: dict) -> None:
        v = commit["version"]
        with open(f"{self.path}/_commits/{v}.json", "w") as fh:
            json.dump(commit, fh)
        tmp = f"{self.path}/_latest.tmp.{v}"
        with open(tmp, "w") as fh:
            fh.write(str(v))
        os.replace(tmp, f"{self.path}/_latest")  # the atomic fence

    def last_batch_id(self) -> int:
        c = self.last_commit()
        return -1 if c is None else int(c.get("batch_id", -1))

    def _writer_batch_ids(self) -> dict:
        return dict((self.last_commit() or {}).get("writer_batch_ids") or {})

    def last_writer_batch_id(self, writer_id: str) -> int:
        """Highest writer-domain batch id committed by ``writer_id``.
        The sink's global ``batch_id`` is one monotone counter; writer
        ids namespace the REPLAY fence so two id domains (tailer
        counter vs streaming epoch_id) can never silently skip each
        other's batches."""
        return int(self._writer_batch_ids().get(writer_id, -1))

    def record_writer_progress(self, writer_id: str, batch_id: int) -> bool:
        """Advance a writer's fence WITHOUT data (e.g. a signal that
        was inspected and ignored): a metadata-only commit. Returns
        False if already recorded."""
        fences = self._writer_batch_ids()
        if batch_id <= fences.get(writer_id, -1):
            return False
        fences[writer_id] = batch_id
        self._commit_metadata(kind="writer_progress", writer_batch_ids=fences)
        return True

    def schema_version(self) -> int:
        """Highest applied schema-evolution version (T12 fence)."""
        c = self.last_commit()
        return -1 if c is None else int(c.get("schema_version", -1))

    def declared_schema(self) -> list[list[str]] | None:
        """Declared table schema [[name, sparkTypeString], ...] — the
        commit-metadata schema (Iceberg's table schema analogue).
        None until the first merge or schema update declares it."""
        c = self.last_commit()
        return None if c is None else c.get("schema")

    def _schema_df(self):
        """Empty DataFrame with the declared schema (for applying
        schema transforms when the table has no data)."""
        return self.spark.createDataFrame([], _ddl(self.declared_schema()))

    def _conform(self, df: DataFrame, decl: list[list[str]]) -> DataFrame:
        """Make ``df`` match the declared schema: add missing declared
        columns as null casts, cast PRESENT columns to their declared
        types, project in declared order (extra undeclared columns are
        dropped). The present-column cast matters after a 'widen'
        evolution: without it a source still emitting the old narrow
        type writes mixed-type parquet across bucket versions and
        plain reads (no mergeSchema) fail."""
        cols = []
        have = {c.lower() for c in df.columns}
        for name, dtype in decl:
            if name.lower() in have:
                cols.append(F.col(name).cast(dtype).alias(name))
            else:
                cols.append(F.lit(None).cast(dtype).alias(name))
        return df.select(*cols)

    def declare_schema(self, schema: list[list[str]]) -> None:
        """Declare the table schema without writing data (CREATE
        TABLE analogue). No-op if a schema is already declared."""
        if self.declared_schema() is not None:
            return
        self._commit_metadata(kind="declare", schema=[list(x) for x in schema])

    def update_schema(self, transform, version: int) -> None:
        """Apply a schema change (T12, the Iceberg ALTER TABLE
        analogue): transform the declared schema (and rewrite data if
        any), commit with the new ``schema_version``. Idempotent via
        the version fence; on an empty/undeclared table the change is
        recorded in metadata and realized by ``_conform`` at the next
        merge."""
        if version <= self.schema_version():
            return
        last = self.last_commit() or {}
        decl = self.declared_schema()
        has_data = bool(last.get("buckets") or last.get("deltas"))
        if decl is None and not has_data:
            raise ValueError(
                "cannot evolve an undeclared empty table — call "
                "declare_schema() first (the tailer does this)"
            )
        if has_data:
            current = self.read().drop("bucket")
        else:
            current = self._schema_df()
        new_state = transform(current)
        meta = {
            "kind": "schema_change",
            "schema_version": version,
            "schema": [
                [f.name, f.dataType.simpleString()]
                for f in new_state.schema.fields
            ],
        }
        if has_data:
            self._rewrite_base(last, new_state, **meta)
        else:
            self._commit_metadata(**meta)

    def _rewrite_base(self, last: dict, state: DataFrame, **meta) -> tuple[int, list[int]]:
        """Write ``state`` as the whole base of ONE new version and
        commit it over ``last``'s metadata (fences, watermarks and
        schema carry forward; pending deltas fold into the new base);
        ``meta`` sets ``kind`` and any other commit fields. Crash-safe
        like every write: the ``_latest`` flip is last. Returns the new
        version and the buckets written."""
        version = self._latest_version() + 1
        written = self._write_buckets(state, version)
        self._write_commit(
            {
                **last,
                "version": version,
                "buckets": {str(b): version for b in written},
                "deltas": {},
                "partitions": [],  # lineage rows belong to merge commits only
                "ts": time.time(),
                **meta,
            }
        )
        return version, written

    def watermark(self, writer_id: str | None = None) -> tuple[int, int]:
        """(receiver_idx, seq) high-watermark of applied changes.

        Watermarks are DOMAIN-SEPARATED like the batch-id fence:
        the default (no ``writer_id``) returns the tailer-domain
        watermark, advanced only by positional writers (tailer merges
        and the initial snapshot). Stream-domain merges record their
        per-epoch max under their own writer id instead, because the
        file source gives no cross-epoch position ordering — a stream
        killed mid-run could otherwise leave the shared watermark
        ahead of unmerged entries, and a subsequent tailer planning
        from ``watermark()`` would silently skip them (the mixed
        tail/stream loss class the writer-namespaced fence closed for
        batch ids)."""
        c = self.last_commit()
        if c is None:
            return (-1, -1)
        if writer_id is not None:
            w = (c.get("writer_watermarks") or {}).get(writer_id)
        else:
            w = c.get("watermark")
        if w is None:
            return (-1, -1)
        return (int(w[0]), int(w[1]))

    def lineage(self) -> list[dict]:
        """Applied lineage, one row per receiver: the highest applied
        seq and the events applied over every merge so far, from the
        latest commit's ``applied`` roll-up (so it survives
        ``expire_versions``). Each merge commit's own per-batch rows
        stay in its ``partitions`` list (FIXTURES §3)."""
        applied = (self.last_commit() or {}).get("applied") or {}
        return [
            {
                "receiver_idx": int(r),
                "seq": int(seq),
                "events_applied": int(n),
                "processed": True,
            }
            for r, (seq, n) in sorted(applied.items(), key=lambda kv: int(kv[0]))
        ]

    # ---- data access --------------------------------------------------

    def _bucket_col(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.num_buckets))

    def commit_at(self, version: int) -> dict:
        """Commit metadata for a specific version (time travel)."""
        with open(f"{self.path}/_commits/{version}.json") as fh:
            return json.load(fh)

    def read(
        self, buckets: list[int] | None = None, version: int | None = None
    ) -> DataFrame:
        """State as of ``version`` (default: current) — the Iceberg
        ``VERSION AS OF`` analogue: every commit's bucket→version map
        is retained, so any historical snapshot is readable without
        data copies. ``buckets`` prunes to only those key buckets
        (the partition-pruned side of the copy-on-write merge).

        Merge-on-read resolution: when the commit carries pending
        delta versions for any wanted bucket, base and delta rows are
        unioned and resolved per key — greatest (receiver_idx, seq,
        data version) wins, exactly the position-aware merge the cow
        path applies at write time (the version tie-break encodes
        "batch beats state on replayed positions": within a bucket the
        base version always precedes its delta versions). Buckets with
        no deltas keep the old single-scan fast path.

        The scans are schema-given (the commit's declared ``schema``;
        delta versions add ``__deleted``), so building the DataFrame
        runs no Spark job. A commit without a declared schema (an
        ``init_snapshot`` not yet followed by a merge) infers it from
        a file footer: one job per scan. Where the schema declares
        ``__deleted``, base files written without it (a snapshot's)
        read it as false."""
        c = self.commit_at(version) if version is not None else self.last_commit()
        if c is None:
            raise FileNotFoundError(f"target {self.path} has no commits")
        mapping: dict[str, int] = c["buckets"]
        deltas: dict[str, list[int]] = c.get("deltas") or {}
        wanted = (
            {str(b) for b in buckets}
            if buckets is not None
            else set(mapping.keys()) | set(deltas.keys())
        )
        paths = [
            f"{self.path}/data/v={ver}/bucket={b}"
            for b, ver in mapping.items()
            if b in wanted
        ]
        # (version, bucket) delta files, grouped by version so each
        # group reads with one schema and a literal version column
        dpaths: dict[int, list[str]] = {}
        for b, vers in deltas.items():
            if b in wanted:
                for ver in vers:
                    dpaths.setdefault(int(ver), []).append(
                        f"{self.path}/data/v={ver}/bucket={b}"
                    )
        if not paths and not dpaths:
            return None
        decl = c.get("schema")
        base = self._scan(paths, decl) if paths else None
        if base is not None and any(n == "__deleted" for n, _ in decl or []):
            # files written before the marker was declared (an
            # init_snapshot's) read it null: no tombstone, a live row
            base = base.withColumn(
                "__deleted", F.coalesce(F.col("__deleted"), F.lit(False))
            )
        if not dpaths:
            return base
        parts = []
        if base is not None:
            parts.append(base.withColumn("__dv", F.lit(-1)))
        ddecl = None if decl is None else _delta_schema(decl)
        for ver in sorted(dpaths):
            parts.append(
                self._scan(dpaths[ver], ddecl).withColumn("__dv", F.lit(ver))
            )
        allrows = parts[0]
        for p in parts[1:]:
            allrows = allrows.unionByName(p, allowMissingColumns=True)
        val_cols = [c_ for c_ in allrows.columns if c_ != self.key]
        ordk = F.struct(F.col("receiver_idx"), F.col("seq"), F.col("__dv"))
        resolved = (
            allrows.groupBy(self.key)
            .agg(F.max_by(F.struct(*val_cols), ordk).alias("__s"))
            .select(self.key, "__s.*")
        )
        if self.delete_mode == "drop":
            # delta tombstones suppress base rows at read time; the
            # marker itself is not part of drop-mode state
            resolved = resolved.filter(
                ~F.coalesce(F.col("__deleted"), F.lit(False))
            ).drop("__deleted")
        else:
            resolved = resolved.withColumn(
                "__deleted", F.coalesce(F.col("__deleted"), F.lit(False))
            )
        return resolved.drop("__dv")

    def _scan(self, paths: list[str], decl: list[list[str]] | None) -> DataFrame:
        """Parquet scan of data files this sink wrote: with their
        declared schema when known, else footer inference (one job)."""
        reader = self.spark.read
        if decl is not None:
            reader = reader.schema(_ddl(decl))
        return reader.parquet(*paths)

    def exists(self) -> bool:
        return self._latest_version() >= 0

    def expire_versions(self, keep_last: int = 10) -> dict:
        """Iceberg ``expire_snapshots`` analogue: retain the newest
        ``keep_last`` commits for time travel, delete every data
        version directory no retained commit references, and drop the
        expired commit files. A bucket untouched for many commits
        keeps its old data version alive through the retained bucket
        maps — only truly unreferenced versions are removed, so
        ``read()`` (and ``read(version=...)`` within retention) stay
        valid. Fences, watermarks and lineage live in the latest
        commit, so they survive any expiry. Returns counts for
        observability."""
        import shutil

        latest = self._latest_version()
        if latest < 0:
            return {"removed_versions": 0, "removed_commits": 0}
        keep_from = max(0, latest - keep_last + 1)
        referenced: set[int] = set()
        kept = removed_commits = 0
        for v in range(keep_from, latest + 1):
            try:
                c = self.commit_at(v)
            except FileNotFoundError:
                continue
            kept += 1
            referenced.update(int(x) for x in c.get("buckets", {}).values())
            # pending merge-on-read delta versions are live data
            referenced.update(
                int(x) for vs in (c.get("deltas") or {}).values() for x in vs
            )
        removed_versions = 0
        data_root = f"{self.path}/data"
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                if not d.startswith("v="):
                    continue
                ver = int(d.split("=", 1)[1])
                if ver not in referenced:
                    shutil.rmtree(f"{data_root}/{d}", ignore_errors=True)
                    removed_versions += 1
        for v in range(keep_from):
            try:
                os.remove(f"{self.path}/_commits/{v}.json")
                removed_commits += 1
            except FileNotFoundError:
                pass
        return {
            "removed_versions": removed_versions,
            "removed_commits": removed_commits,
            "kept_commits": kept,
        }

    def compact(self, min_versions: int = 2) -> dict:
        """Iceberg ``rewrite_data_files`` analogue: rewrite the
        current state into ONE new data version so long-running tails
        don't accumulate per-version bucket directories between
        ``expire_versions`` calls. Pure maintenance — no fence, no
        watermark movement (the commit carries the previous metadata
        forward), and crash-safe like every write (the ``_latest``
        flip is last, so a crash mid-rewrite leaves the old state
        live). A follow-up ``expire_versions`` can then drop every
        older version directory since nothing retained references
        them. No-op when the live bucket map already spans fewer than
        ``min_versions`` versions. Returns version-spread before/after
        for observability."""
        last = self.last_commit()
        if last is None or not (last.get("buckets") or last.get("deltas")):
            return {"skipped": True, "reason": "empty"}
        n_deltas = sum(len(v) for v in (last.get("deltas") or {}).values())
        spread_before = len(
            set(last["buckets"].values())
            | {v for vs in (last.get("deltas") or {}).values() for v in vs}
        )
        if spread_before < min_versions and n_deltas == 0:
            return {"skipped": True, "spread": spread_before}
        version, written = self._rewrite_base(
            last, self.read().drop("bucket"), kind="rewrite"
        )
        return {
            "skipped": False,
            "version": version,
            "spread_before": spread_before,
            "spread_after": 1,
            "buckets": len(written),
        }

    def rescale_buckets(self, new_num_buckets: int) -> dict:
        """Online bucket-count evolution (Iceberg's
        ``bucket(N, key)`` partition-spec evolution analogue, done as
        a full rewrite since this sink has no multi-spec planning):
        rewrite the current state under the new modulus in ONE new
        version, stamp ``num_buckets`` in the commit, and let every
        future constructor/merge adopt it. Fences, watermarks and
        schema metadata carry forward untouched; crash-safe like
        every write (the ``_latest`` flip is last). Use when a target
        outgrows its bucket count (bucket files >> maxPartitionBytes)
        — the copy-on-write merge cost scales with bucket size, not
        table size, so keeping buckets right-sized is what keeps
        merge latency flat as the table grows."""
        assert new_num_buckets >= 1
        last = self.last_commit()
        if last is None:
            self.num_buckets = new_num_buckets
            return {"rescaled": False, "reason": "empty target"}
        if int(last.get("num_buckets", self.num_buckets)) == new_num_buckets:
            return {"rescaled": False, "reason": "already at size"}
        old_num = self.num_buckets
        state = self.read().drop("bucket")
        self.num_buckets = new_num_buckets
        version, _ = self._rewrite_base(
            last, state, kind="rescale", num_buckets=new_num_buckets
        )
        return {
            "rescaled": True,
            "from_buckets": old_num,
            "to_buckets": new_num_buckets,
            "version": version,
        }

    def changes_between(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level diff between two snapshots (Iceberg
        changelog-scan analogue): one row per key whose state changed,
        with op c (inserted), u (value changed) or d (deleted) and the
        after-image columns (null for d). Plan: full-outer join on the
        key — one shuffle, key-partitioned.

        Rows are compared NULL-SAFELY via struct ``<=>`` (not a hash:
        Spark hash expressions skip null children, so (a=null,b='x')
        vs (a='x',b=null) would collide and be reported unchanged);
        side presence is a literal marker, not value nullness. The
        position columns (receiver_idx, seq) are emitted but excluded
        from the change comparison — a value-identical rewrite at a
        newer position is not an update to a changelog consumer. In
        delete_mode='rewrite' a ``__deleted`` transition maps to op
        'd'/'c' (a soft-delete IS a delete to a changelog consumer),
        and ``__deleted`` itself is excluded from the emitted columns.
        """
        old = self.read(version=from_version)
        new = self.read(version=to_version)
        cols_src = new if new is not None else old
        soft = "__deleted" in cols_src.columns
        val_cols = sorted(
            c for c in cols_src.columns
            if c not in (self.key, "bucket", "__deleted")
        )
        cmp_cols = [c for c in val_cols if c not in ("receiver_idx", "seq")]

        def side(df, tag):
            if df is None:
                return None
            alive = (
                ~F.coalesce(F.col("__deleted"), F.lit(False))
                if soft
                else F.lit(True)
            )
            return df.select(
                F.col(self.key),
                F.lit(True).alias(f"__p_{tag}"),
                alive.alias(f"__a_{tag}"),
                F.struct(*[F.col(c) for c in cmp_cols]).alias(f"__v_{tag}"),
                *[F.col(c).alias(f"__{tag}_{c}") for c in val_cols],
            )

        o, n = side(old, "o"), side(new, "n")
        null_after = [
            F.lit(None).cast(dict(cols_src.dtypes)[c]).alias(c) for c in val_cols
        ]
        if o is None and n is None:
            raise FileNotFoundError("both versions empty")
        if o is None:
            return n.filter(F.col("__a_n")).select(
                self.key,
                F.lit("c").alias("op"),
                *[F.col(f"__n_{c}").alias(c) for c in val_cols],
            )
        if n is None:
            return o.filter(F.col("__a_o")).select(
                self.key, F.lit("d").alias("op"), *null_after
            )
        j = o.join(n, self.key, "full_outer")
        old_alive = F.coalesce(F.col("__p_o") & F.col("__a_o"), F.lit(False))
        new_alive = F.coalesce(F.col("__p_n") & F.col("__a_n"), F.lit(False))
        op = (
            F.when(~old_alive & new_alive, "c")
            .when(old_alive & ~new_alive, "d")
            .when(
                old_alive
                & new_alive
                & ~F.col("__v_o").eqNullSafe(F.col("__v_n")),
                "u",
            )
        )
        after = [
            F.when(F.col("op") == "d", F.lit(None).cast(dict(cols_src.dtypes)[c]))
            .otherwise(F.col(f"__n_{c}"))
            .alias(c)
            for c in val_cols
        ]
        return (
            j.withColumn("op", op)
            .filter(F.col("op").isNotNull())
            .select(self.key, "op", *after)
        )

    # ---- write paths ----------------------------------------------------

    def _write_buckets(self, df: DataFrame, version: int) -> list[int]:
        """Write df partitioned by key-bucket under a new version dir;
        returns the bucket ids written. ``bucket`` lives only in the
        directory names (``partitionBy``), so the files hold exactly
        ``df``'s columns: the schema a merge commit declares."""
        out = df.withColumn("bucket", self._bucket_col(F.col(self.key)))
        # repartition by bucket so each bucket is written by exactly
        # one task: file count stays num_buckets regardless of
        # parallelism (without this, tasks x buckets small files and
        # the driver-side dynamic-overwrite commit serializes on the
        # renames — measured 5x slower at 32 cores)
        out = out.repartition(self.num_buckets, F.col("bucket"))
        (
            out.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{self.path}/data/v={version}")
        )
        # written buckets = the partition directories the write created
        # (metadata listing, no Spark job — Iceberg would read this
        # from the commit manifest)
        vdir = f"{self.path}/data/v={version}"
        try:
            seen = [
                int(d.split("=", 1)[1])
                for d in os.listdir(vdir)
                if d.startswith("bucket=")
            ]
        except FileNotFoundError:  # empty write (delete-only batch)
            seen = []
        return sorted(seen)

    def init_snapshot(self, snapshot: DataFrame, watermark: tuple[int, int]) -> None:
        """T10: initial load; the journal watermark is recorded BEFORE
        the snapshot read by the caller, so streaming overlap replays
        idempotently (As400SnapshotChangeEventSource.java:125-137).
        A re-snapshot keeps the writer fences and applied lineage."""
        last = self.last_commit() or {}
        version = self._latest_version() + 1
        buckets = self._write_buckets(snapshot, version)
        self._write_commit(
            {
                "version": version,
                "batch_id": -1,
                "buckets": {str(b): version for b in buckets},
                "deltas": {},  # full replace supersedes pending deltas
                "watermark": list(watermark),
                "writer_batch_ids": last.get("writer_batch_ids") or {},
                "applied": last.get("applied") or {},
                "partitions": [],
                "ts": time.time(),
                "kind": "snapshot",
                "schema_version": -1,
                "num_buckets": self.num_buckets,
            }
        )

    def merge(
        self,
        batch: DataFrame,
        batch_id: int,
        watermark: tuple[int, int] | Callable[[], tuple | None] | None = None,
        partitions: list[dict] | Callable[[], list[dict]] | None = None,
        writer_id: str | None = None,
        touched: list[int] | None = None,
    ) -> dict:
        """Upsert a compacted batch (one row per key, with ``op``).

        ``touched`` (cow only): the batch's bucket set, if the caller
        already knows it — the tailer folds it into the action that
        materializes its persist() via an Observation (map-side
        collect_set, no exchange), so the sink's own discovery job is
        skipped. Must equal the true pmod(xxhash64(key), num_buckets)
        set; a wrong set loses rows from unread buckets.

        Returns stats dict. Idempotent: a replayed batch is skipped
        at the fence; re-running the *same* batch after a
        crash-before-commit rewrites the same buckets
        deterministically (copy-on-write), so the flip of ``_latest``
        is the only visible state change.

        Fence domains: without ``writer_id`` the raw ``batch_id`` is
        compared against the global counter (the tailer, which derives
        its ids from ``last_batch_id()+1``). WITH ``writer_id`` (the
        streaming path, whose ``batch_id`` is Spark's epoch_id — an
        independent id domain), replay detection compares only against
        ids previously committed by the SAME writer, and the committed
        global batch_id is re-based to ``last_batch_id()+1``. This
        prevents the silent-loss scenario where early stream epochs
        (epoch_id <= last tailer batch id) skip their merge while the
        stream checkpoint still marks those files consumed.
        """
        if writer_id is None:
            if batch_id <= self.last_batch_id():
                return {"skipped": True, "batch_id": batch_id}
            effective_id = batch_id
        else:
            if batch_id <= self.last_writer_batch_id(writer_id):
                return {"skipped": True, "batch_id": batch_id}
            effective_id = self.last_batch_id() + 1

        version = self._latest_version() + 1
        last = self.last_commit()

        if self.write_mode == "mor":
            return self._merge_mor(
                batch, batch_id, effective_id, version, last,
                watermark, partitions, writer_id,
            )

        if touched is None:
            # structurally required before the write: cow reads the
            # current state of exactly these buckets to combine (the
            # read cannot be made lazy on a not-yet-run action), so a
            # caller that didn't precompute the set pays one discovery
            # job here. Key-column-only scan + tiny exchange.
            touched = sorted(
                int(r["bucket"])
                for r in batch.select(
                    self._bucket_col(F.col(self.key)).alias("bucket")
                )
                .distinct()
                .collect()
            )
        else:
            touched = sorted(int(b) for b in touched)

        # position-aware merge: winner per key is the row with the
        # greatest (receiver_idx, seq); batch beats state on ties
        # (replayed position). This is Iceberg's
        # `WHEN MATCHED AND s.pos >= t.pos THEN UPDATE` shape, built
        # from the same last-per-key fold the engine compacts with.
        batch_side = batch.withColumn("__src", F.lit(1))
        if last is None:
            combined = batch_side
            bucket_map: dict[str, int] = {}
        else:
            bucket_map = dict(last["buckets"])
            current = self.read(buckets=touched)
            if current is not None:
                cur = current.drop("bucket")
                if self.delete_mode == "rewrite" and "__deleted" in cur.columns:
                    cur = cur.withColumn(
                        "op", F.when(F.col("__deleted"), "d").otherwise("c")
                    ).drop("__deleted")
                else:
                    cur = cur.withColumn("op", F.lit("c"))
                cur_side = cur.withColumn("__src", F.lit(0))
                combined = cur_side.unionByName(
                    batch_side, allowMissingColumns=True
                )
            else:
                combined = batch_side

        # winner per key: both sides are unique per key (state is
        # resolved, the batch is pre-compacted), so each key holds <= 2
        # rows and the max_by is deterministic — ties on (receiver_idx,
        # seq) break to the batch via __src.
        winner = last_event_per_key_agg(
            combined,
            keys=(self.key,),
            order_cols=("receiver_idx", "seq", "__src"),
        ).drop("__src")
        if self.delete_mode == "drop":
            new_rows = winner.filter(F.col("op") != "d").drop("op")
        else:
            new_rows = winner.withColumn("__deleted", F.col("op") == "d").drop("op")

        # conform to the declared (evolved) table schema: added
        # columns persist as nulls, dropped columns stay dropped
        decl = self.declared_schema()
        if decl is not None:
            new_rows = self._conform(new_rows, decl)
        else:
            decl = [
                [f.name, f.dataType.simpleString()] for f in new_rows.schema.fields
            ]

        written = self._write_buckets(new_rows, version)
        for b in written:
            bucket_map[str(b)] = version
        # a touched bucket whose rows were all deleted writes no file;
        # drop it from the map so reads don't resurrect old versions
        for b in touched:
            if b not in written and str(b) in bucket_map:
                del bucket_map[str(b)]
        # the rewrite consumed any pending merge-on-read deltas of the
        # touched buckets (cur was read resolved): clear them so reads
        # don't re-apply
        deltas_map = {
            b: list(v)
            for b, v in ((last or {}).get("deltas") or {}).items()
            if int(b) not in set(touched)
        }

        return self._commit_merge(
            version=version,
            effective_id=effective_id,
            batch_id=batch_id,
            last=last,
            bucket_map=bucket_map,
            deltas_map=deltas_map,
            touched=touched,
            decl=decl,
            watermark=watermark,
            partitions=partitions,
            writer_id=writer_id,
        )

    def _merge_mor(
        self,
        batch: DataFrame,
        batch_id: int,
        effective_id: int,
        version: int,
        last: dict | None,
        watermark,
        partitions,
        writer_id: str | None,
    ) -> dict:
        """Merge-on-read write path: append the pre-compacted batch as
        immutable per-bucket DELTA files — ONE Spark job, no current-
        state read, no pre-write bucket discovery (the touched set is
        the partition dirs the write created). Deletes persist as
        ``__deleted`` tombstones until a compaction; ``read()``
        resolves base+deltas per key by (receiver_idx, seq, version).
        Replay after a crash-before-commit rewrites the same version
        dir deterministically, so the ``_latest`` flip stays the only
        visible state change — the same exactly-once argument as the
        cow path."""
        delta = batch.withColumn(
            "__deleted", F.coalesce(F.col("op") == F.lit("d"), F.lit(False))
        ).drop("op")
        decl = self.declared_schema()
        if decl is not None:
            delta = self._conform(delta, _delta_schema(decl))
        else:
            # first-merge declaration parity with cow: drop mode keeps
            # the tombstone marker out of the declared table schema
            decl = [
                [f.name, f.dataType.simpleString()]
                for f in delta.schema.fields
                if not (f.name == "__deleted" and self.delete_mode == "drop")
            ]
        written = self._write_buckets(delta, version)
        bucket_map = dict((last or {}).get("buckets") or {})
        deltas_map = {
            b: list(v)
            for b, v in ((last or {}).get("deltas") or {}).items()
        }
        for b in written:
            deltas_map.setdefault(str(b), []).append(version)
        return self._commit_merge(
            version=version,
            effective_id=effective_id,
            batch_id=batch_id,
            last=last,
            bucket_map=bucket_map,
            deltas_map=deltas_map,
            touched=sorted(written),
            decl=decl,
            watermark=watermark,
            partitions=partitions,
            writer_id=writer_id,
        )

    def _commit_merge(
        self,
        *,
        version: int,
        effective_id: int,
        batch_id: int,
        last: dict | None,
        bucket_map: dict,
        deltas_map: dict,
        touched: list[int],
        decl,
        watermark,
        partitions,
        writer_id: str | None,
    ) -> dict:
        # the committed watermark is monotone: an out-of-order batch
        # (file-source disorder) must never move it backwards. Writer
        # domains are separated (see watermark() docstring): only a
        # positional writer (writer_id=None: the tailer) advances the
        # shared watermark; a namespaced writer records its own.
        # A callable watermark (Observation-backed, streaming path) is
        # resolved HERE — after the write actions, so the metrics rode
        # the writes instead of needing their own job.
        if callable(watermark):
            watermark = watermark()
        prev_wm = (last or {}).get("watermark")
        writer_wms = dict((last or {}).get("writer_watermarks") or {})
        if writer_id is None:
            if watermark is not None and prev_wm is not None:
                new_wm = list(
                    max(tuple(watermark), (int(prev_wm[0]), int(prev_wm[1])))
                )
            elif watermark is not None:
                new_wm = list(watermark)
            else:
                new_wm = prev_wm
        else:
            new_wm = prev_wm
            if watermark is not None:
                prev = writer_wms.get(writer_id)
                if prev is not None:
                    writer_wms[writer_id] = list(
                        max(tuple(watermark), (int(prev[0]), int(prev[1])))
                    )
                else:
                    writer_wms[writer_id] = list(watermark)
        writer_fences = dict((last or {}).get("writer_batch_ids") or {})
        if writer_id is not None:
            writer_fences[writer_id] = batch_id
        # a callable defers lineage computation until after the write
        # actions ran — the tailer passes an Observation-backed
        # provider so per-receiver stats ride the merge's own jobs
        # instead of a separate aggregation job
        if callable(partitions):
            partitions = partitions()
        partitions = partitions or []
        # roll this batch's rows into the per-receiver applied lineage
        applied = dict((last or {}).get("applied") or {})
        for p in partitions:
            r = str(int(p["receiver_idx"]))
            seq, n = int(p["seq"]), int(p["events_applied"])
            prev = applied.get(r)
            applied[r] = [seq, n] if prev is None else [max(prev[0], seq), prev[1] + n]
        self._write_commit(
            {
                "version": version,
                "batch_id": effective_id,
                "buckets": bucket_map,
                "deltas": deltas_map,
                "watermark": new_wm,
                "writer_watermarks": writer_wms,
                "writer_batch_ids": writer_fences,
                "applied": applied,
                "partitions": partitions,
                "ts": time.time(),
                "kind": "merge",
                "schema_version": (last or {}).get("schema_version", -1),
                "schema": decl,
                "num_buckets": self.num_buckets,
            }
        )
        return {
            "skipped": False,
            "batch_id": effective_id,
            "version": version,
            "buckets_touched": touched,
            # max outstanding deltas over any bucket AFTER this commit
            # — the read-amplification driver; free (driver-side dict)
            # and the input to the delta-count compaction trigger
            "max_bucket_deltas": max(
                (len(v) for v in deltas_map.values()), default=0
            ),
        }
