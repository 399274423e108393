"""Curator event-editing operations as distributed lake transforms.

Re-expresses the reference's curator utilities — single-event field
updates / deletes (curator_tools/edit_event.py:55-140, matching by id
and rewriting the store), GUI mark-deleted / mark-unknown
(curator_tools/makeOsdDb_refactor/event_editor.py:590-626), and
datasource stripping (curator_tools/strip_phone_datasource.py:41-66) —
as DataFrame transforms instead of driver-side list surgery.

Scale shape: the edit/delete sets are curator-sized (human-curated,
thousands at most), so every operation here is a BROADCAST join against
the big fact table — no shuffle of the 100 TB side, and the rewrite is
a normal partition-parallel write of the transformed frame. A lake
"update" is transform + rewrite (or MERGE on a table format); these
transforms are exactly the MERGE's matched/not-matched clauses.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def edits_frame(
    spark: SparkSession,
    edits: Mapping[int, Mapping[str, object]],
    id_col: str,
    editable_cols: Iterable[str],
) -> DataFrame:
    """Build the small edits dimension from {event_id: {field: new_value}}.

    Unspecified fields are NULL (= keep existing value on apply), mirroring
    edit_event.py's "only update the flags the caller passed" behavior.
    """
    cols = list(editable_cols)
    rows = [
        tuple([int(eid)] + [e.get(c) for c in cols]) for eid, e in edits.items()
    ]
    return spark.createDataFrame(rows, [id_col] + cols)


def apply_event_edits(
    df: DataFrame, edits: DataFrame, id_col: str = "event_id"
) -> DataFrame:
    """Apply field updates from a small edits frame by id.

    edit_event.py:113-131 mutates matched dicts in a loaded list; here the
    edits dim is broadcast and each edited column becomes
    ``coalesce(edit.value, fact.value)`` — rows without an edit (or edits
    with NULL for a field) keep the original value. One narrow projection,
    zero shuffles of the fact side.
    """
    edited_cols = [c for c in edits.columns if c != id_col]
    e = F.broadcast(
        edits.select(
            F.col(id_col).alias("__edit_id"),
            *[F.col(c).alias(f"__edit_{c}") for c in edited_cols],
        )
    )
    out = df.join(e, df[id_col] == e["__edit_id"], "left")
    for c in edited_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__edit_{c}"), F.col(c)))
    return out.drop("__edit_id", *[f"__edit_{c}" for c in edited_cols])


def delete_events(
    df: DataFrame, ids: DataFrame | Iterable[int], id_col: str = "event_id"
) -> DataFrame:
    """Drop rows whose id is in the (small) delete list.

    edit_event.py --delete removes matched entries from the list; the lake
    equivalent is a broadcast LEFT ANTI join — the fact table never
    shuffles, and the rewrite omits the deleted rows.
    """
    if not isinstance(ids, DataFrame):
        spark = df.sparkSession
        from openseizuredatabase_spark.functions.literal import literal_df

        ids = literal_df(
            spark, [(int(i),) for i in ids], f"{id_col} long"
        )
    return df.join(
        F.broadcast(ids.select(F.col(id_col).alias(id_col))), id_col, "left_anti"
    )


def strip_datasource(
    df: DataFrame, source_col: str, value: str = "Phone"
) -> DataFrame:
    """Remove every row from one data source.

    strip_phone_datasource.py:53-58 filters dataSourceName=='Phone' while
    streaming the file; here it is a plain pushdown-able predicate — at
    lake scale with source-partitioned layout this prunes whole partitions
    instead of reading them. NULL sources are kept, matching the
    reference's ``ev.get('dataSourceName') == 'Phone'`` (missing key ≠
    match).
    """
    c = F.col(source_col)
    return df.filter(c.isNull() | (c != F.lit(value)))


def mark_events(
    df: DataFrame,
    ids: DataFrame | Iterable[int],
    type_col: str = "event_type",
    new_value: str = "unknown",
    id_col: str = "event_id",
) -> DataFrame:
    """Re-label matched events (event_editor.py mark-deleted/mark-unknown):
    a one-column edit expressed through the same broadcast-edit path."""
    if not isinstance(ids, DataFrame):
        spark = df.sparkSession
        from openseizuredatabase_spark.functions.literal import literal_df

        ids = literal_df(
            spark, [(int(i),) for i in ids], f"{id_col} long"
        )
    edits = ids.select(id_col, F.lit(new_value).alias(type_col))
    return apply_event_edits(df, edits, id_col=id_col)


# ---------------------------------------------------------------------------
# makeOsdDb_refactor curator operators (the forward-looking curator rewrite,
# curator_tools/makeOsdDb_refactor/src/) — gap-based proximity grouping with
# datapoint merge, canonical field-hash dedup, rule-tagged validation, and
# datetime normalization. These change published DB contents vs the classic
# curator's D1 fixed bins, so they are first-class engine operators.
# ---------------------------------------------------------------------------

from collections.abc import Sequence  # noqa: E402

from pyspark.sql import Column, Window  # noqa: E402


def proximity_group_ids(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    id_col: str,
    threshold: float = 180,
) -> DataFrame:
    """Gap-based proximity chains per group key (adds ``group_id``).

    makeOsdDb_refactor/src/event_grouping.py:127-174
    (group_events_by_proximity): sort by (userId, type, dataTime), start a
    new group when the gap to the PREVIOUS event exceeds the threshold —
    chained sessionization, not D1's fixed wall-clock bins. The reference's
    pandas loop is one lag + running-sum window here: a single shuffle on
    the group key, linear per partition, no iteration. ``<= threshold``
    keeps the chain (event_grouping.py:163), so the break predicate is
    strictly ``gap > threshold``. Ties in ``ts`` order deterministically by
    ``id_col`` (the reference relies on pandas stable sort order).

    ``threshold`` is UNIT-AGNOSTIC: it is compared directly against
    ``ts_col`` deltas, so it must be expressed in whatever unit ``ts_col``
    carries (seconds for epoch-seconds columns — the reference's 180 s
    default — milliseconds for epoch-millis columns, etc.).
    """
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    gap = F.col(ts_col).cast("double") - F.lag(F.col(ts_col)).over(w).cast(
        "double"
    )
    brk = F.when(gap.isNull() | (gap > threshold), 1).otherwise(0)
    return df.withColumn(
        "group_id",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1,
    )


def alarm_first_precedence(
    alarm_col: str,
    desc_col: str,
    ts_col: str,
    id_col: str,
    existing_col: str | None = None,
) -> Column:
    """The 'alarm_first' selection sort key as one orderable struct.

    event_grouping.py:198-206 sort_key: (is_existing asc, -osdAlarmState,
    -has_desc, dataTime asc); lowest wins. The engine adds ``id_col`` as a
    final tiebreak where the reference relies on stable input order (ties
    beyond dataTime are otherwise engine-nondeterministic).
    """
    is_existing = (
        F.when(F.col(existing_col), 0).otherwise(1)
        if existing_col is not None
        else F.lit(1)
    )
    has_desc = F.when(
        F.trim(F.coalesce(F.col(desc_col), F.lit(""))) != "", 1
    ).otherwise(0)
    return F.struct(
        is_existing.alias("p0"),
        (-F.coalesce(F.col(alarm_col), F.lit(0)).cast("long")).alias("p1"),
        (-has_desc).alias("p2"),
        F.col(ts_col).alias("p3"),
        F.col(id_col).alias("p4"),
    )


def selection_precedence(
    strategy: str,
    alarm_col: str,
    desc_col: str,
    ts_col: str,
    id_col: str,
    dp_col: str,
    existing_col: str | None = None,
) -> Column:
    """Orderable sort key for every select_best_event_from_group strategy
    (event_grouping.py:177-220); lowest wins under min_by.

    - 'alarm_first': the full precedence struct (:198-206).
    - 'most_datapoints': existing events outrank all others (:208-212
      only considers existing when any exist — equivalent to leading the
      key with is_existing), then max len(datapoints); Python's max()
      keeps the FIRST maximum, i.e. earliest (ts, id).
    - 'last': max dataTime among existing-else-all (:213-216).
    - anything else: min dataTime among existing-else-all (:217-220).
    """
    if strategy == "alarm_first":
        return alarm_first_precedence(
            alarm_col, desc_col, ts_col, id_col, existing_col
        )
    is_existing = (
        F.when(F.col(existing_col), 0).otherwise(1)
        if existing_col is not None
        else F.lit(1)
    )
    if strategy == "most_datapoints":
        n_dp = F.when(F.col(dp_col).isNull(), 0).otherwise(
            F.size(F.col(dp_col))
        )
        second = (-n_dp).cast("double")
        third = F.col(ts_col).cast("double")
    elif strategy == "last":
        second = -F.col(ts_col).cast("double")
        third = F.lit(0.0)
    else:  # 'first' / unknown → earliest (reference else branch)
        second = F.col(ts_col).cast("double")
        third = F.lit(0.0)
    return F.struct(
        is_existing.alias("p0"),
        second.alias("p1"),
        third.alias("p2"),
        F.col(id_col).alias("p3"),
    )


def tolerance_dedup_fold(
    dps: Column, time_field: str, tolerance_ms: int = 100
) -> Column:
    """Chained 100 ms tolerance dedup over a TIME-SORTED datapoint array.

    event_grouping.py:71-83: walk the sorted list keeping a datapoint only
    when |t - last_KEPT| >= tolerance — the comparison is against the last
    kept datapoint, not the previous row, so this is a sequential fold,
    not a lag filter. Expressed as ``F.aggregate`` (JVM-side higher-order
    fold over the per-group array — no Python, no extra shuffle; the array
    is bounded by the proximity chain). abs() is redundant on a sorted
    ascending array (t >= last kept always).
    """
    zero = F.struct(
        F.lit(-(2**62)).cast("long").alias("last"),
        F.slice(dps, 1, 0).alias("kept"),
    )

    def step(acc: Column, x: Column) -> Column:
        keep = F.struct(
            x[time_field].cast("long").alias("last"),
            F.concat(acc["kept"], F.array(x)).alias("kept"),
        )
        return F.when(
            (x[time_field].cast("long") - acc["last"]) < tolerance_ms, acc
        ).otherwise(keep)

    return F.aggregate(dps, zero, step)["kept"]


def merge_proximity_groups(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    id_col: str,
    alarm_col: str,
    desc_col: str,
    dp_col: str,
    dp_time_field: str = "t",
    threshold: float = 180,
    tolerance_ms: int = 100,
    existing_col: str | None = None,
    exclude_types: Sequence[str] | None = None,
    type_col: str | None = None,
    update_desc: bool = True,
    keep_group_id: bool = False,
    with_dp_totals: bool = False,
    strategy: str = "alarm_first",
) -> DataFrame:
    """Merge-datapoints proximity grouping — the refactored curator's
    apply_sliding_window_grouping (event_grouping.py:223-341) as one
    distributed plan.

    Per (group_cols) key: gap-chain events at ``threshold`` (same unit as
    ``ts_col`` — see :func:`proximity_group_ids`; ``tolerance_ms`` however
    is always milliseconds because datapoint time fields are epoch-millis,
    event_grouping.py:57-63) (event_grouping.py:127-174), pick the
    'alarm_first' representative
    (:177-221), and for multi-member groups concatenate every member's
    datapoints, sort by time, drop near-dups within ``tolerance_ms`` of
    the last KEPT point (:34-124), annotate ``desc`` with the merged ids
    (string-sorted, ', '-joined — :101-119) and attach provenance columns
    ``_merged_from_event_ids`` / ``_merged_event_count`` /
    ``_merged_datapoint_count``. Single-member groups pass through
    untouched (NULL provenance), matching merge_grouped_events' early
    return (:90-91). Events whose ``type_col`` is in ``exclude_types``
    (case-insensitive, :234-243 — NDA events) bypass grouping entirely.

    Scale shape: ONE shuffle on (group_cols, group_id) does selection and
    merge together (min_by for the representative, collect_list+flatten+
    array_sort+aggregate for the datapoints — all JVM-side); group size is
    bounded by the proximity chain, never the table. No driver collects,
    no Python in the hot path.
    """
    all_cols = list(df.columns)
    dp_type = dict(df.dtypes)[dp_col]
    empty_dps = F.array().cast(dp_type)
    excluded = None
    if exclude_types:
        tcol = type_col or group_cols[-1]
        lowered = [t.lower() for t in exclude_types]
        is_excl = F.lower(F.coalesce(F.col(tcol), F.lit(""))).isin(lowered)
        excluded = df.filter(is_excl)
        df = df.filter(~is_excl)

    grouped = proximity_group_ids(
        df, group_cols, ts_col, id_col, threshold
    )
    prec = selection_precedence(
        strategy, alarm_col, desc_col, ts_col, id_col, dp_col, existing_col
    )
    keys = [*group_cols, "group_id"]
    agg = grouped.groupBy(*keys).agg(
        F.min_by(F.struct(*all_cols), prec).alias("__rep"),
        F.count(F.lit(1)).alias("_merged_event_count"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("__t"),
                    F.col(id_col).alias("__id"),
                )
            )
        ).alias("__members"),
        # Time-keyed sort: wrap each datapoint in (key, dp), sort, unwrap.
        # A bare array_sort over the dp structs would order by the struct's
        # FIELD ORDER (only correct when the time field happens to be
        # first); keying on dp_time_field honors the parameter for any
        # struct layout. Ties fall back to the whole dp struct — the same
        # total order the field-order sort gave time-first layouts.
        F.transform(
            F.array_sort(
                F.transform(
                    F.flatten(
                        F.collect_list(F.coalesce(F.col(dp_col), empty_dps))
                    ),
                    lambda d: F.struct(
                        d[dp_time_field].alias("__k"), d.alias("__dp")
                    ),
                )
            ),
            lambda s: s["__dp"],
        ).alias("__all_dps"),
        # grouping_info total_datapoints_before at group granularity
        # (event_grouping.py:263-267) — computed inside the same
        # aggregate so stats never cost a second scan of the fact table
        F.sum(F.size(F.coalesce(F.col(dp_col), empty_dps)))
        .cast("long")
        .alias("_group_dp_count_before"),
    )

    rep = agg.select(
        *[
            F.col(c) if c in group_cols else F.col(f"__rep.{c}").alias(c)
            for c in all_cols
            if c != dp_col
        ],
        F.col(f"__rep.{dp_col}").alias("__rep_dps"),
        "_merged_event_count",
        "__members",
        "__all_dps",
        "_group_dp_count_before",
        "group_id",
    )

    multi = F.col("_merged_event_count") > 1
    merged_dps = F.when(
        multi,
        tolerance_dedup_fold(F.col("__all_dps"), dp_time_field, tolerance_ms),
    ).otherwise(F.col("__rep_dps"))
    member_ids = F.transform(F.col("__members"), lambda m: m["__id"])
    out = (
        rep.withColumn(dp_col, merged_dps)
        .withColumn(
            "_merged_from_event_ids", F.when(multi, member_ids)
        )
        .withColumn(
            "_merged_event_count",
            F.when(multi, F.col("_merged_event_count")),
        )
        .withColumn(
            "_merged_datapoint_count", F.when(multi, F.size(F.col(dp_col)))
        )
    )
    if update_desc:
        # event_grouping.py:101-119: string-sort the OTHER member ids,
        # append "Includes data from merged event(s): ..." with the
        # '.'/' ' punctuation rules, skipping when the exact note is
        # already present.
        others = F.array_sort(
            F.transform(
                F.filter(member_ids, lambda i: i != F.col(id_col)),
                lambda i: i.cast("string"),
            )
        )
        note = F.concat(
            F.lit("Includes data from merged event(s): "),
            F.array_join(others, ", "),
        )
        cur = F.coalesce(F.col(desc_col), F.lit(""))
        prefixed = F.when(cur == "", cur).when(
            cur.endswith("."), F.concat(cur, F.lit(" "))
        ).otherwise(F.concat(cur, F.lit(". ")))
        new_desc = F.when(
            ~multi | (F.size(others) == 0), F.col(desc_col)
        ).when(
            cur.contains(note), cur
        ).otherwise(F.concat(prefixed, note))
        out = out.withColumn(desc_col, new_desc)
    out = out.drop("__rep_dps", "__members", "__all_dps")
    if not keep_group_id:
        out = out.drop("group_id")
    if not with_dp_totals:
        out = out.drop("_group_dp_count_before")

    if excluded is not None:
        excluded = (
            excluded.withColumn(
                "_merged_from_event_ids",
                F.lit(None).cast(f"array<{dict(df.dtypes)[id_col]}>"),
            )
            .withColumn("_merged_event_count", F.lit(None).cast("long"))
            .withColumn("_merged_datapoint_count", F.lit(None).cast("int"))
        )
        if keep_group_id:
            excluded = excluded.withColumn(
                "group_id", F.lit(None).cast("long")
            )
        if with_dp_totals:
            excluded = excluded.withColumn(
                "_group_dp_count_before",
                F.size(F.coalesce(F.col(dp_col), empty_dps)).cast("long"),
            )
        out = out.unionByName(excluded)
    return out


def event_field_hash(
    fields: Sequence[tuple[str, str]],
) -> Column:
    """md5 over the canonical sorted-key JSON of selected event fields.

    event_deduplication.py:16-39 (compute_event_hash): hash_data = the
    present fields, serialized ``json.dumps(..., sort_keys=True)`` (key
    order alphabetical, ``", "`` / ``": "`` separators), md5 hex digest.
    The engine builds the SAME byte string with explicit concat — never an
    engine JSON serializer, whose spacing/ordering differs between Spark
    and DuckDB — so the digest is portable and oracle-checkable.

    ``fields``: (column, kind) with kind 'str' (JSON-quoted; caller
    guarantees no characters needing JSON escaping — true for ids,
    ISO timestamps and type labels) or 'num' (bare integer rendering).
    Missing (NULL) fields drop out of the serialization exactly like the
    reference's ``if field in event`` guard — concat_ws skips NULLs.
    """
    frags = []
    for name, kind in sorted(fields, key=lambda f: f[0]):
        key = F.lit(f'"{name}": ')
        if kind == "str":
            val = F.concat(F.lit('"'), F.col(name), F.lit('"'))
        else:
            val = F.col(name).cast("long").cast("string")
        frags.append(
            F.when(F.col(name).isNotNull(), F.concat(key, val))
        )
    payload = F.concat_ws(", ", *frags)
    return F.md5(F.concat(F.lit("{"), payload, F.lit("}")))


def event_field_hash_sql(fields: Sequence[tuple[str, str]]) -> str:
    """DuckDB rendering of :func:`event_field_hash` for oracle parity."""
    frags = []
    for name, kind in sorted(fields, key=lambda f: f[0]):
        if kind == "str":
            val = f"'\"' || {name} || '\"'"
        else:
            val = f"{name}::BIGINT::VARCHAR"
        frags.append(
            f"CASE WHEN {name} IS NOT NULL"
            f" THEN '\"{name}\": ' || {val} END"
        )
    return "md5('{' || concat_ws(', ', " + ", ".join(frags) + ") || '}')"


def dedup_by_field_hash(
    df: DataFrame,
    fields: Sequence[tuple[str, str]],
    pos_col: str,
    id_col: str = "id",
    keep: str = "first",
    dp_col: str = "datapoints",
) -> DataFrame:
    """Field-hash event dedup with keep-first/last/most-datapoints.

    event_deduplication.py:80-173 (remove_duplicate_events): group events
    by their canonical field hash, keep one per group, report the rest.
    'first'/'last' = min/max input position (``pos_col`` is the explicit
    order column — a distributed engine has no implicit list order);
    'most_datapoints' = max size of the ``dp_col`` array, position
    tiebreak like the reference's ``max()`` (first maximum wins;
    ``dp_col`` is only referenced for that strategy).

    Output: the input columns + ``event_hash`` + ``n_copies`` (group
    size), filtered to the kept rows — one groupBy-window shuffle on the
    uniformly-distributed 32-char digest, no skew. The removed side is
    the complement (``anti_join`` on the kept (hash, pos) pairs);
    ``dedup_stats`` renders the reference's dedup_info dict as a 1-row
    aggregate.
    """
    h = event_field_hash(fields)
    hashed = df.withColumn("event_hash", h)
    w = Window.partitionBy("event_hash")
    if keep == "last":
        order = [F.col(pos_col).desc()]
    elif keep == "most_datapoints":
        order = [F.size(dp_col).desc(), F.col(pos_col).asc()]
    else:
        order = [F.col(pos_col).asc()]
    ranked = hashed.withColumn(
        "__rn", F.row_number().over(w.orderBy(*order))
    ).withColumn("n_copies", F.count(F.lit(1)).over(w))
    return ranked.filter(F.col("__rn") == 1).drop("__rn")


def dedup_stats(kept: DataFrame) -> DataFrame:
    """The reference's dedup_info (event_deduplication.py:164-171) as a
    one-row aggregate over :func:`dedup_by_field_hash` output."""
    return kept.agg(
        F.sum("n_copies").alias("total_input"),
        F.count(F.lit(1)).alias("total_output"),
        F.sum(F.when(F.col("n_copies") > 1, F.col("n_copies")).otherwise(0))
        .alias("duplicates_found"),
        F.sum(F.col("n_copies") - 1).alias("duplicates_removed"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .alias("duplicate_groups"),
    )


def validation_rule_tags(
    required_fields: Sequence[str],
    dp_json_col: str = "dp_json",
    dp_count: Column | None = None,
    min_datapoints: int = 1,
    invalid_ids: Sequence[int] | None = None,
    invalid_flag: Column | None = None,
    id_col: str = "id",
) -> tuple[Column, Column]:
    """(reason, missing_fields) columns for the validation-rule batch.

    event_validation.py:70-126 (validate_event) raises at the FIRST
    failing rule, so precedence is a CASE cascade in the reference's
    order: marked_invalid_in_config (config id list, :164-171) →
    'Missing required fields' → 'Event has no datapoints field' →
    'Event datapoints is not a list' → 'Event has insufficient
    datapoints'. NULL reason = valid. The config list can be passed as
    literal ids (``invalid_ids``, curator-sized isin) or as a
    pre-computed ``invalid_flag`` boolean column (the broadcast-join
    membership flag at scale). ``dp_json_col`` carries the raw
    datapoints serialization (the refactored curator validates events as
    downloaded JSON, where datapoints can be absent or a bare count);
    list-ness is the '[' prefix test.

    The default ``dp_count`` is the PARSED top-level element count
    (``json_array_length``) — the reference counts ``len(datapoints)``
    of the parsed list (event_validation.py:117), and real OSDB
    datapoints are objects whose internal commas would make any textual
    comma count overcount. A '['-prefixed string that is not valid JSON
    yields NULL (Spark json_array_length semantics) and therefore never
    fires the insufficient-datapoints rule; pass an explicit
    ``dp_count`` to change that policy.
    """
    missing = F.filter(
        F.array(
            *[
                F.when(F.col(f).isNull(), F.lit(f))
                for f in required_fields
            ]
        ),
        lambda x: x.isNotNull(),
    )
    dp = F.col(dp_json_col)
    if dp_count is None:
        dp_count = F.json_array_length(dp)
    if invalid_flag is None:
        invalid_flag = (
            F.col(id_col).isin([int(i) for i in invalid_ids])
            if invalid_ids
            else F.lit(False)
        )
    # an OR of isNull (never NULL itself) fires exactly when ``missing``
    # is non-empty, without a per-row interpreted lambda in the stage
    any_missing = F.lit(False)
    for f in required_fields:
        any_missing = any_missing | F.col(f).isNull()
    reason = F.when(invalid_flag, "marked_invalid_in_config")
    reason = (
        reason.when(any_missing, "Missing required fields")
        .when(dp.isNull(), "Event has no datapoints field")
        .when(~dp.startswith("["), "Event datapoints is not a list")
        .when(dp_count < min_datapoints, "Event has insufficient datapoints")
    )
    return reason, missing


def validation_report(
    tagged: DataFrame,
    reason_col: str = "reason",
    extra_aggs: Sequence[Column] = (),
) -> DataFrame:
    """Per-reason counts + the valid row (event_validation.py:189-196
    validation_report dict: total_checked / valid / skipped /
    skip_reasons) as one conditional aggregation; ``extra_aggs`` ride
    the same single pass (e.g. id sums for the skip_reason_details)."""
    return tagged.groupBy(
        F.coalesce(F.col(reason_col), F.lit("valid")).alias("reason")
    ).agg(F.count(F.lit(1)).alias("n"), *extra_aggs)


# Known datetime formats in OSDB data (datetime_normalization.py:18-22),
# rendered as Spark SimpleDateFormat patterns in cascade order.
KNOWN_DT_FORMATS = [
    "dd-MM-yyyy HH:mm:ss",       # old format "02-10-2022 13:44:56"
    "yyyy-MM-dd'T'HH:mm:ss'Z'",  # ISO 8601 Z
    "yyyy-MM-dd HH:mm:ss",       # alternative
]

# The fallback tier: normalize_datetime_string falls through to
# dateutil_parser.parse(dayfirst=True) for anything outside KNOWN_FORMATS
# (datetime_normalization.py:58-63). dateutil is open-ended; the formats
# OSDB data actually contains beyond the known three are the rest of the
# ingest cascade (flattenData.py:30-74, see sources/ingest.py
# TIMESTAMP_FORMATS) — microsecond ISO variants, T-without-Z, and the
# slash layouts. Exotic strings dateutil would accept ("Jan 5 2023") stay
# unparseable here — a deterministic, documented subset instead of a
# per-row Python call.
#
# FIDELITY: dateutil's dayfirst=True reorders AMBIGUOUS numeric dates in
# EVERY layout, including y-t2-t3 ones — parse('2024-07-12T05:58:24.123456',
# dayfirst=True) returns 2024-12-07 (day=07, month=12), falling back to
# y-m-d only when the last token can't be a month. The reference publishes
# those swapped instants for fallback-tier strings, so the engine mirrors
# the quirk: for each layout the day-first reading is tried FIRST and the
# month-first reading second (the second only wins when the first is an
# invalid date — exactly dateutil's resolution order).
FALLBACK_DT_FORMATS = [
    "yyyy-dd-MM'T'HH:mm:ss.SSSSSS'Z'",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    "yyyy-dd-MM'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-dd-MM'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "dd/MM/yyyy HH:mm:ss",
    "MM/dd/yyyy HH:mm:ss",
    "yyyy/dd/MM HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
]


# Cheap NECESSARY shape conditions per pattern: (min_len, max_len,
# ((pos, char), ...)) with 1-based F.substring indexing.
# try_to_timestamp swallows parser exceptions internally, and at lake
# scale paying a JVM exception per (row x non-matching format)
# dominates the cascade — the gate lets codegen skip the parser for
# all but the plausible pattern(s). A gate is only ever a necessary
# condition, so gated and ungated cascades return identical results.
# Spark's date/time FIELDS parse strictly two-digit (a 1-digit month
# or hour fails), so non-fraction layouts pin an exact length; the
# FRACTION is lenient (SSSSSS accepts 1-6 digits — verified), so the
# micro layouts gate a length RANGE around the fixed prefix.
_DT_SHAPE_GATES: dict[
    str, "tuple[int, int, tuple[tuple[int, str], ...]]"
] = {
    "dd-MM-yyyy HH:mm:ss": (19, 19, ((3, "-"), (6, "-"))),
    "yyyy-MM-dd'T'HH:mm:ss'Z'": (20, 20, ((11, "T"), (20, "Z"))),
    "yyyy-MM-dd HH:mm:ss": (19, 19, ((5, "-"), (8, "-"), (11, " "))),
    # fraction 1-6 digits (+ 'Z'): 19-char prefix + '.' + 1..6 [+ 'Z']
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'": (22, 27, ((11, "T"), (20, "."))),
    "yyyy-dd-MM'T'HH:mm:ss.SSSSSS'Z'": (22, 27, ((11, "T"), (20, "."))),
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS": (21, 26, ((11, "T"), (20, "."))),
    "yyyy-dd-MM'T'HH:mm:ss.SSSSSS": (21, 26, ((11, "T"), (20, "."))),
    "yyyy-MM-dd'T'HH:mm:ss": (19, 19, ((11, "T"),)),
    "yyyy-dd-MM'T'HH:mm:ss": (19, 19, ((11, "T"),)),
    "dd/MM/yyyy HH:mm:ss": (19, 19, ((3, "/"), (6, "/"))),
    "MM/dd/yyyy HH:mm:ss": (19, 19, ((3, "/"), (6, "/"))),
    "yyyy/MM/dd HH:mm:ss": (19, 19, ((5, "/"), (8, "/"))),
    "yyyy/dd/MM HH:mm:ss": (19, 19, ((5, "/"), (8, "/"))),
}


def _dt_cascade(dt: Column, formats: Sequence[str]) -> Column:
    attempts = []
    for fmt in formats:
        parsed = F.try_to_timestamp(dt, F.lit(fmt))
        gate = _DT_SHAPE_GATES.get(fmt)
        if gate is not None:
            lo, hi, chars = gate
            n = F.length(dt)
            cond = (n == lo) if lo == hi else (n >= lo) & (n <= hi)
            for pos, ch in chars:
                cond = cond & (F.substring(dt, pos, 1) == ch)
            parsed = F.when(cond, parsed)
        attempts.append(parsed)
    return F.coalesce(*attempts)


def normalize_datetime_cascade(
    dt: Column, with_fallback: bool = True
) -> Column:
    """Parse a datetime string through the known-format cascade, then the
    deterministic fallback tier (datetime_normalization.py:25-63:
    KNOWN_FORMATS loop, then dateutil dayfirst — see FALLBACK_DT_FORMATS
    for the mirrored subset), and render ISO 8601 'yyyy-MM-ddTHH:mm:ssZ'.
    Sub-second precision is truncated exactly like the reference's
    ``dt.strftime(TARGET_FORMAT)``. Strings neither tier parses stay NULL
    (a quarantine column; the reference raises and the caller keeps the
    original string — use :func:`datetime_parse_source` to census the
    tiers)."""
    parsed = _dt_cascade(dt, KNOWN_DT_FORMATS)
    if with_fallback:
        parsed = F.coalesce(parsed, _dt_cascade(dt, FALLBACK_DT_FORMATS))
    return F.date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss'Z'")


def datetime_parse_source(dt: Column) -> Column:
    """Which tier of normalize_datetime_string would handle this string:
    'known_format' (KNOWN_FORMATS loop, datetime_normalization.py:50-55),
    'fallback' (the dateutil tier, :58-63, mirrored deterministically by
    FALLBACK_DT_FORMATS), 'unparseable' (the raising branch — the caller
    keeps the original value and warns), or 'missing' for NULL/empty
    (the ``if not dt_str`` early return, :40-41)."""
    return (
        F.when(dt.isNull() | (dt == ""), "missing")
        .when(_dt_cascade(dt, KNOWN_DT_FORMATS).isNotNull(), "known_format")
        .when(_dt_cascade(dt, FALLBACK_DT_FORMATS).isNotNull(), "fallback")
        .otherwise("unparseable")
    )


def datetime_format_census(dt: Column) -> Column:
    """Classify a datetime string like detect_datetime_formats
    (datetime_normalization.py:160-192): iso_8601 by the length-20 /
    'T'@10 / trailing-'Z' shape test, old_format by length-19 with '-' at
    positions 3 and 6 (0-based 2 and 5), else other; NULL/empty →
    missing."""
    return (
        F.when(dt.isNull() | (dt == ""), "missing")
        .when(
            (F.length(dt) == 20)
            & (F.substring(dt, 11, 1) == "T")
            & (F.substring(dt, 20, 1) == "Z"),
            "iso_8601",
        )
        .when(
            (F.length(dt) == 19)
            & (F.substring(dt, 3, 1) == "-")
            & (F.substring(dt, 6, 1) == "-"),
            "old_format",
        )
        .otherwise("other")
    )


def flatten_for_publication(
    df: DataFrame,
    dp_col: str = "datapoints",
    event_cols: Sequence[str] = (),
    dp_fields: Sequence[str] = (),
) -> DataFrame:
    """Publication flattening: one row per datapoint, events without
    datapoints kept as a single base row.

    osdb_publication.py:130-196 (publish_parquet flatten_datapoints=True):
    the per-event base record is repeated per datapoint; an event with an
    empty/missing datapoint list still emits its base record with the
    datapoint columns absent. That is exactly ``explode_outer`` — a
    narrow, partition-local transform (no shuffle); the parquet write
    stays partition-parallel where the reference buffers every record in
    one driver list.
    """
    dp = F.explode_outer(F.col(dp_col)).alias("__dp")
    out = df.select(*event_cols, dp)
    for f in dp_fields:
        out = out.withColumn(f"datapoint_{f}", F.col(f"__dp.{f}"))
    return out.drop("__dp")
