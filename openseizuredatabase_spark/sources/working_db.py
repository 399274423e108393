"""Lake-backed curator working store — the PySpark replacement for the
reference's SQLite working DB (curator_tools/makeOsdDb_refactor/src/
osdb_sqlite.py:1-911: OsdWorkingDb).

The SQLite layer gives the curator five things: indexed ``get_events``
(by id / user / type / time range), transactional ``add_events`` /
``update_event`` / ``remove_events``, JSON import, JSON export, and
``get_statistics``.  The Spark-first equivalents:

* **"indexed query" = physical layout, not B-trees.**  The events table
  is written partitioned by ``type`` and sorted by ``(userId,
  dataTime)`` within files, so the reference's three indexes map to
  lake machinery: ``idx_events_type`` → partition-directory pruning,
  ``idx_events_user_time`` / ``idx_events_datatime`` → parquet
  row-group min/max (zone-map) pruning on the sort keys.  A
  ``get_events`` call is a declarative filter Catalyst pushes into the
  scan — at 100 TB only the matching partitions/row-groups are read.
* **"transaction" = copy-on-write snapshot versioning.**  Every
  mutation writes a COMPLETE new version directory ``v<N>/`` and then
  publishes it by atomically replacing the one-line ``_LATEST`` pointer
  file (``os.replace`` — the Delta/Iceberg commit protocol in
  miniature; on an object store this is the same conditional-put).  A
  crash mid-write leaves ``_LATEST`` pointing at the previous intact
  version — the "no corruption on crash" property the reference gets
  from SQLite journaling — and old versions remain readable (time
  travel the reference cannot do).
* **datapoints are a separate normalized table** keyed by ``event_id``,
  exactly as the reference schema does (osdb_sqlite.py:204-221), and
  re-nest on export via a per-event ordered ``collect_list``.
* ``add_events`` is an UPSERT by id (the reference's INSERT OR
  REPLACE, osdb_sqlite.py:266-379): incoming ids replace existing rows
  and their datapoints via an anti-join, never a driver loop.

The ``desc`` column is stored as ``descr`` (``desc``/``DESC`` is a SQL
keyword in both engines); JSON import/export maps it back.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from openseizuredatabase_spark.sources.width import sink_width

#: reference normalize_datetime's strptime cascade (osdb_sqlite.py:72-80),
#: first match wins; Java pattern equivalents.
_DT_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "dd-MM-yyyy HH:mm:ss",
    "MM/dd/yyyy HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
)

_PY_DT_FORMATS = (
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%d %H:%M:%S.%f",
    "%d-%m-%Y %H:%M:%S",
    "%m/%d/%Y %H:%M:%S",
    "%Y/%m/%d %H:%M:%S",
)


def normalize_datetime_col(c: Column) -> Column:
    """Column form of the reference's ``normalize_datetime``
    (osdb_sqlite.py:44-117): strip a trailing ``Z``, try the format
    cascade, emit canonical ``YYYY-MM-DD HH:MM:SS``; if nothing parses,
    keep the original string when it is date-long (len > 8), else NULL.
    Pure built-in expressions — the cascade runs JVM-side in the scan
    projection, no UDF."""
    s = F.regexp_replace(F.trim(c.cast("string")), "Z$", "")
    ts = F.coalesce(
        *[F.try_to_timestamp(s, F.lit(f)) for f in _DT_FORMATS]
    )
    return F.coalesce(
        F.date_format(ts, "yyyy-MM-dd HH:mm:ss"),
        F.when(F.length(F.trim(c.cast("string"))) > 8,
               F.trim(c.cast("string"))),
    )


def normalize_datetime_str(v) -> str | None:
    """Driver-side scalar twin of :func:`normalize_datetime_col`, for
    normalizing ``get_events`` range-filter literals (the reference
    normalizes the bind parameter the same way, osdb_sqlite.py:497+)."""
    if v is None:
        return None
    if isinstance(v, (int, float)):
        if 0 < v < 4102444800:
            return datetime.fromtimestamp(v, tz=timezone.utc).strftime(
                "%Y-%m-%d %H:%M:%S"
            )
        return None
    s = str(v).strip()
    if s.endswith("Z"):
        s = s[:-1]
    for f in _PY_DT_FORMATS:
        try:
            return datetime.strptime(s, f).strftime("%Y-%m-%d %H:%M:%S")
        except ValueError:
            continue
    return str(v).strip() if len(str(v).strip()) > 8 else None


class OsdWorkingLake:
    """Versioned parquet working store with the OsdWorkingDb surface.

    Layout under ``root``::

        _LATEST              one line: the committed version number
        v0/events/           parquet, partitioned by type,
                             sorted (userId, dataTime) within files
        v0/datapoints/       parquet, partitioned-pruned by event join
        v1/...               next committed snapshot

    Every mutation = write ``v<N+1>`` completely, then ``os.replace``
    the pointer.  Readers always open the pointed-at version.
    """

    #: columns update_event may change (osdb_sqlite.py:763-820)
    EDITABLE = ("type", "subType", "descr", "seizureTimes")

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- commit protocol ------------------------------------------------
    def current_version(self) -> int:
        try:
            with open(os.path.join(self.root, "_LATEST")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _publish(self, version: int) -> None:
        tmp = os.path.join(self.root, "_LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(self.root, "_LATEST"))

    def _dir(self, version: int, table: str) -> str:
        return os.path.join(self.root, f"v{version}", table)

    def _commit(
        self,
        events: DataFrame,
        dps: DataFrame | None,
        dps_reuse_from: int | None = None,
    ) -> int:
        """Write version ``v+1`` and swap the pointer.

        ``dps_reuse_from``: the mutation did not touch the datapoints
        table — link the named committed version's parquet files into
        the new snapshot instead of shuffling + rewriting identical
        bytes (round-11, guide §6: a real lakehouse commit references
        unchanged files, it never rewrites them; hardlinks are this
        sandbox's file-reference, with copy as the cross-device
        fallback). The reader sees the exact same files either way.
        The events and datapoints writes are INDEPENDENT jobs (neither
        reads the other's output; the version publishes only after both
        finish), so they run overlapped from a 2-thread pool (round-12,
        guide §2.6 "overlap independent jobs": the second job's tasks
        back-fill executors freed by the first job's tail instead of
        waiting on a serial driver loop). Commit semantics are
        unchanged — ``_publish`` still happens strictly after both
        writes complete, so a crash mid-commit leaves ``_LATEST`` on
        the previous intact version exactly as before.
        """
        v = self.current_version() + 1

        def w_events() -> None:
            (
                events.repartition(F.col("type"))
                .sortWithinPartitions("userId", "dataTime")
                .write.partitionBy("type")
                .mode("overwrite")
                .parquet(self._dir(v, "events"))
            )

        def w_dps() -> None:
            (
                dps.repartition("event_id")
                .sortWithinPartitions("event_id", "dataTime")
                .write.mode("overwrite")
                .parquet(self._dir(v, "datapoints"))
            )

        if dps is not None and dps_reuse_from is None:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                fe, fd = pool.submit(w_events), pool.submit(w_dps)
                fe.result()
                fd.result()
        else:
            w_events()
            if dps_reuse_from is not None:
                src = self._dir(dps_reuse_from, "datapoints")
                if os.path.exists(src):
                    self._link_tree(src, self._dir(v, "datapoints"))
        self._publish(v)
        return v

    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        import shutil

        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            out = dst if rel == "." else os.path.join(dst, rel)
            os.makedirs(out, exist_ok=True)
            for f in files:
                s, d = os.path.join(root, f), os.path.join(out, f)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)

    # -- snapshot readers ------------------------------------------------
    def events(self, version: int | None = None) -> DataFrame:
        v = self.current_version() if version is None else version
        return self.spark.read.parquet(self._dir(v, "events"))

    def datapoints(self, version: int | None = None) -> DataFrame:
        v = self.current_version() if version is None else version
        p = self._dir(v, "datapoints")
        if not os.path.exists(p):
            return None
        return self.spark.read.parquet(p)

    # -- import ------------------------------------------------------------
    def import_from_json(
        self,
        path: str,
        schema: str,
        clear_existing: bool = True,
        multi_line: bool = False,
    ) -> int:
        """Reference import_from_json (osdb_sqlite.py:231-264): read an
        OSDB JSON file of nested events and upsert them.  ``schema`` is
        the explicit nested DDL (no inference pass over a lake-sized
        import); ``desc`` maps to ``descr``.  Returns events imported."""
        doc = self.spark.read.schema(schema).json(path, multiLine=multi_line)
        if "desc" in doc.columns:
            doc = doc.withColumnRenamed("desc", "descr")
        return self.add_events(doc, _replace_all=clear_existing)

    # -- mutations ---------------------------------------------------------
    @staticmethod
    def _split(doc: DataFrame) -> tuple[DataFrame, DataFrame | None]:
        """Nested event docs → (events row, normalized datapoints rows),
        normalizing both dataTime columns on the way in (the reference
        normalizes at insert, osdb_sqlite.py:289-296)."""
        ev_cols = [c for c in doc.columns if c != "datapoints"]
        ev = doc.select(*ev_cols).withColumn(
            "dataTime", normalize_datetime_col(F.col("dataTime"))
        )
        dps = None
        if "datapoints" in doc.columns:
            dps = (
                doc.select(
                    F.col("id").alias("event_id"),
                    F.explode_outer("datapoints").alias("dp"),
                )
                .filter(F.col("dp").isNotNull())
                .select("event_id", "dp.*")
                .withColumn(
                    "dataTime", normalize_datetime_col(F.col("dataTime"))
                )
            )
        return ev, dps

    def add_events(self, doc: DataFrame, _replace_all: bool = False) -> int:
        """UPSERT by id (reference INSERT OR REPLACE + datapoint re-insert,
        osdb_sqlite.py:266-379): incoming ids replace existing events AND
        their datapoints.  One anti-join each — no driver loop."""
        new_ev, new_dp = self._split(doc)
        # the returned count rides the commit's events-write job as an
        # Observation metric (round-11, guide §1.2: the old standalone
        # new_ev.count() re-ran the whole JSON read + normalization)
        obs = Observation()
        if self.current_version() < 0 or _replace_all:
            self._commit(
                new_ev.observe(obs, F.count(F.lit(1)).alias("n")), new_dp
            )
            return obs.get["n"]
        ids = new_ev.select("id").distinct()
        new_ev = new_ev.observe(obs, F.count(F.lit(1)).alias("n"))
        ev = (
            self.events()
            .join(F.broadcast(ids), "id", "left_anti")
            .unionByName(new_ev, allowMissingColumns=True)
        )
        old_dp = self.datapoints()
        if old_dp is not None and new_dp is not None:
            dp = old_dp.join(
                F.broadcast(ids.withColumnRenamed("id", "event_id")),
                "event_id",
                "left_anti",
            ).unionByName(new_dp, allowMissingColumns=True)
        else:
            dp = new_dp if old_dp is None else old_dp
        self._commit(ev, dp)
        return obs.get["n"]

    def apply_edits(self, edits: DataFrame) -> int:
        """Batch form of update_event (osdb_sqlite.py:763-820): ``edits``
        carries ``id`` plus any of EDITABLE; matched events take the
        edit row's values verbatim (including explicit NULLs, as the
        reference UPDATE does), unmatched rows pass through.  This is
        the scale path: one broadcast left join, copy-on-write commit;
        the matched count rides the commit write as an Observation
        metric and the untouched datapoints table is file-linked into
        the new snapshot, never rewritten (edit ids are unique by the
        store's own upsert discipline — a duplicated edit id would
        duplicate its event row here exactly as it always has)."""
        ev = self.events()
        upd = F.broadcast(edits.withColumn("_hit", F.lit(True)))
        obs = Observation()
        joined = ev.alias("e").join(upd.alias("u"), "id", "left").observe(
            obs,
            F.sum(
                F.when(F.col("_hit"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n"),
        )
        out_cols = [F.col("id")]
        for c in ev.columns:
            if c == "id":
                continue
            if c in edits.columns and c in self.EDITABLE:
                out_cols.append(
                    F.when(F.col("_hit"), F.col(f"u.{c}"))
                    .otherwise(F.col(f"e.{c}"))
                    .alias(c)
                )
            else:
                out_cols.append(F.col(f"e.{c}").alias(c))
        self._commit(
            joined.select(*out_cols),
            None,
            dps_reuse_from=self.current_version(),
        )
        return int(obs.get["n"] or 0)

    def update_event(
        self,
        event_id: str,
        event_type: str,
        subtype: str,
        description: str,
        seizure_times: list[float] | None = None,
    ) -> bool:
        """Single-event reference-parity wrapper over apply_edits."""
        row = {
            "id": str(event_id),
            "type": event_type,
            "subType": subtype,
            "descr": description,
            "seizureTimes": (
                json.dumps(seizure_times) if seizure_times is not None
                else None
            ),
        }
        edits = self.spark.createDataFrame(
            [tuple(row.values())],
            "id string, type string, subType string, descr string, "
            "seizureTimes string",
        )
        return self.apply_edits(edits) > 0

    def remove_events(self, event_ids: list) -> int:
        """Delete by id with datapoint cascade (osdb_sqlite.py:572-587,
        FK ON DELETE CASCADE).  The removed count = (rows scanned −
        rows kept) rides the commit write as two Observation metrics
        on the same plan — zero standalone count jobs (round-11)."""
        ids = [str(i) for i in event_ids]
        o_in, o_out = Observation(), Observation()
        kept = (
            self.events()
            .observe(o_in, F.count(F.lit(1)).alias("n"))
            .filter(~F.col("id").isin(ids))
            .observe(o_out, F.count(F.lit(1)).alias("n"))
        )
        dp = self.datapoints()
        if dp is not None:
            dp = dp.filter(~F.col("event_id").isin(ids))
        self._commit(kept, dp)
        return o_in.get["n"] - o_out.get["n"]

    # -- queries -----------------------------------------------------------
    def get_events(
        self,
        user_id=None,
        event_type: str | None = None,
        event_subtype: str | None = None,
        start_time=None,
        end_time=None,
        event_ids: list | None = None,
        include_datapoints: bool = False,
    ) -> DataFrame:
        """Reference get_events (osdb_sqlite.py:381-498) as a declarative
        plan: every filter pushes into the parquet scan (partition
        pruning on type, zone maps on userId/dataTime).  Range literals
        are normalized like the reference normalizes its bind params.
        Row order is a DataFrame non-concept; export applies the ORDER
        BY dataTime contract at the sink."""
        ev = self.events()
        if user_id is not None:
            ev = ev.filter(F.col("userId") == user_id)
        if event_type is not None:
            ev = ev.filter(F.col("type") == event_type)
        if event_subtype is not None:
            ev = ev.filter(F.col("subType") == event_subtype)
        if start_time is not None:
            ev = ev.filter(
                F.col("dataTime") >= normalize_datetime_str(start_time)
            )
        if end_time is not None:
            ev = ev.filter(
                F.col("dataTime") <= normalize_datetime_str(end_time)
            )
        if event_ids is not None:
            ev = ev.filter(
                F.col("id").isin([str(i) for i in event_ids])
            )
        if include_datapoints:
            dp = self.datapoints()
            if dp is not None:
                dp_cols = [c for c in dp.columns if c != "event_id"]
                nested = dp.groupBy("event_id").agg(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("dataTime").alias("_o"),
                                F.struct(*dp_cols).alias("_d"),
                            )
                        )
                    ).alias("_s")
                ).select(
                    F.col("event_id").alias("id"),
                    F.transform(F.col("_s"), lambda s: s["_d"]).alias(
                        "datapoints"
                    ),
                )
                ev = ev.join(nested, "id", "left")
        return ev

    def get_event_details(self, event_id) -> dict | None:
        """Point lookup (osdb_sqlite.py:710-760)."""
        rows = (
            self.get_events(event_ids=[event_id], include_datapoints=True)
            .limit(1)
            .collect()
        )
        return rows[0].asDict(recursive=True) if rows else None

    # -- export / stats ------------------------------------------------------
    def export_to_json(
        self,
        output_path: str,
        user_id=None,
        event_type: str | None = None,
        pretty: bool = False,
    ) -> int:
        """Reference export_to_json (osdb_sqlite.py:500-533): filtered
        events with nested datapoints, ordered by dataTime, as NDJSON
        parts (the lake-native layout; ``pretty`` routes through the
        single-file compat shim)."""
        from openseizuredatabase_spark.sources.sinks import (
            export_small_json,
            write_events_json,
        )

        out = self.get_events(
            user_id=user_id, event_type=event_type,
            include_datapoints=True,
        ).withColumnRenamed("descr", "desc")
        # exported-row count rides the sink job (round-11: the
        # standalone count() re-executed the whole nested-datapoints
        # join subtree once more)
        obs = Observation()
        out = out.observe(obs, F.count(F.lit(1)).alias("n"))
        ordered = out.repartitionByRange(
            sink_width(out.sparkSession), F.col("dataTime")
        ).sortWithinPartitions("dataTime")
        if pretty:
            export_small_json(ordered, output_path, pretty=True)
        else:
            write_events_json(ordered, output_path)
        return obs.get["n"]

    def get_statistics(self) -> dict:
        """Reference get_statistics (osdb_sqlite.py:535-570) in one
        events aggregation job: ``cube("type")`` emits the per-type
        counts AND the grand-total row (flagged by ``grouping``) from a
        single scan — round-11 merge of the former two jobs; the
        collect stays metadata-sized (one row per type + 1)."""
        ev = self.events()
        rows = (
            ev.cube("type")
            .agg(
                F.grouping("type").alias("_g"),
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("userId").alias("unique_users"),
                F.countDistinct("type").alias("unique_types"),
                F.min("dataTime").alias("t0"),
                F.max("dataTime").alias("t1"),
            )
            .collect()
        )
        tot = next((r for r in rows if r["_g"] == 1), None)
        # empty table: a keyed aggregate emits zero rows where the old
        # global agg emitted one — reproduce its (0, 0, 0, None, None)
        agg = {
            "total_events": tot["n"] if tot else 0,
            "unique_users": tot["unique_users"] if tot else 0,
            "unique_types": tot["unique_types"] if tot else 0,
            "t0": tot["t0"] if tot else None,
            "t1": tot["t1"] if tot else None,
        }
        by_type = {r["type"]: r["n"] for r in rows if r["_g"] == 0}
        dp = self.datapoints()
        n_dp = dp.count() if dp is not None else 0
        return {
            "total_events": agg["total_events"],
            "total_datapoints": n_dp,
            "unique_users": agg["unique_users"],
            "unique_types": agg["unique_types"],
            "time_range": {"start": agg["t0"], "end": agg["t1"]},
            "events_by_type": by_type,
            "version": self.current_version(),
        }
