"""Row-at-a-time reference readers for the ``acidtable`` source — the
equivalence oracle its Arrow kernels are tested against.

``_read_parquet_rows`` and ``_read_change_rows`` compute, one Python
tuple at a time, the rows a snapshot partition and a change partition
must emit: the live rows of a file in file order, and a commit's net
multiset row diff keyed on the canonical ``key()`` of each row. The
helpers below run them over the exact plan the source's readers make
(``_AcidBatchReader.partitions`` / ``_AcidStreamReader.partitions``),
so a test compares the Spark read with the oracle partition for
partition.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Row

from data_lake_demo_spark.streaming.acid_source import (
    _AcidBatchReader,
    _AcidStreamReader,
    _ChangePartition,
)


def _read_parquet_rows(
    path: str,
    fields: list[str],
    dv: str | None = None,
    rid_base: int | None = None,
    with_rid: bool = False,
):
    """Executor-side file read: yield tuples in schema field order,
    padding columns the file predates (additive evolution) with None.
    ``dv`` masks merge-on-read-deleted rows by position.

    ``with_rid=True`` appends the stable row id as the LAST element of
    each tuple — the materialized hidden ``__row_id`` column when the
    file carries one (rewrites), else ``rid_base`` + the PHYSICAL row
    position (pre-mask, matching tableformat's base + _metadata.
    row_index derivation), else None (file predates tracking)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    cols = []
    n = tbl.num_rows
    for f in fields:
        if f in tbl.column_names:
            cols.append(tbl.column(f).to_pylist())
        else:
            cols.append([None] * n)
    if not n:
        return
    if with_rid:
        # mirror AcidTable._attach_row_ids: coalesce(materialized,
        # base + physical position)
        if "__row_id" in tbl.column_names:
            mat = tbl.column("__row_id").to_pylist()
            if rid_base is None:
                cols.append(mat)
            else:
                cols.append(
                    [m if m is not None else rid_base + i
                     for i, m in enumerate(mat)]
                )
        elif rid_base is not None:
            cols.append(list(range(rid_base, rid_base + n)))
        else:
            cols.append([None] * n)
    if dv:
        from data_lake_demo_spark.tableformat import _unpack_dv

        skip = set(_unpack_dv(dv))
        for i, row in enumerate(zip(*cols)):
            if i not in skip:
                yield row
        return
    yield from zip(*cols)


def _read_change_rows(
    part: _ChangePartition,
    fields: list[str],
    with_rid: bool = False,
    as_images: bool = False,
):
    """Executor-side net row diff for one commit (CDF mode): rows
    present after-but-not-before are inserts, before-but-not-after
    are deletes — multiset semantics (Counter), so duplicate rows
    diff correctly. A pure-layout commit (compact / zorder) has
    identical multisets and yields an EMPTY feed, matching
    ``AcidTable.changes``. Memory is O(files this commit touched) —
    bounded by the same file skipping that produced the commit.

    ``with_rid=True`` (row-tracking tables) includes the stable row id
    in the diff KEY and appends it as the row's last column: because
    rewrites PRESERVE ids, carried rows still cancel (the old side
    derives base+position, the new side reads the materialized column
    — same value), layout commits still diff to empty, and an update's
    delete+insert pair SHARES its id — the pairing contract that lets
    a downstream consumer reconstruct row-level updates without a
    natural key.

    ``as_images=True`` (the ``updateAsImages`` reader option) FOLDS
    that pairing into Delta's 4-value change-type enum executor-side:
    a delete and an insert sharing a row id within one commit relabel
    to ``update_preimage``/``update_postimage`` (MERGE and MOR verbs
    included); unpaired rows keep insert/delete. Requires row
    tracking — ids are read for the pairing even when the consumer
    didn't ask for the ``_row_id`` column (they're dropped again at
    emission unless ``with_rid``)."""
    from collections import Counter

    def key(v):
        # nested parquet values (array/map columns) arrive as Python
        # lists/dicts — unhashable; build a canonical hashable key
        # while keeping the ORIGINAL row for emission. Float NaN is
        # mapped to a sentinel: tuple keys use Python equality where
        # NaN != NaN, so NaN-bearing rows would never cancel between
        # the removed/added multisets and a pure-layout compaction
        # would emit spurious delete+insert pairs — AcidTable.changes
        # (exceptAll) treats NaN as equal, and so must we.
        if isinstance(v, float) and v != v:
            return ("__nan",)
        if isinstance(v, (list, tuple)):  # map entries arrive as tuples
            return ("__l", tuple(key(x) for x in v))
        if isinstance(v, dict):
            return ("__d", tuple(sorted((k, key(x)) for k, x in v.items())))
        return v

    read_rid = with_rid or as_images
    bucket = part.bucket
    rid_range = part.rid_range

    def in_range(k) -> bool:
        # rid-RANGE partition ownership (reference twin of the kernel's
        # range mask): rid in [lo, hi), open ends unbounded; a null rid
        # (file predating tracking) belongs to the FIRST range (lo None)
        lo, hi = rid_range
        rid = k[-1]
        if rid is None:
            return lo is None
        return (lo is None or rid >= lo) and (hi is None or rid < hi)

    def bucket_of(k) -> int:
        # deterministic across processes (no reliance on
        # PYTHONHASHSEED): crc32 of the canonical key's repr. In rid
        # mode the row id alone is the bucket key, so an update's
        # delete+insert pair — different content, same id — stays
        # co-bucketed and image pairing survives the decomposition.
        import zlib

        kk = k[-1] if read_rid and k[-1] is not None else k
        return zlib.crc32(repr(kk).encode()) % bucket[1]

    def load(entries):
        counts: Counter = Counter()
        originals: dict = {}
        for p, dv, base in entries:
            for row in _read_parquet_rows(p, fields, dv, base, read_rid):
                k = tuple(key(v) for v in row)
                if bucket is not None and bucket_of(k) != bucket[0]:
                    continue  # another bucket's task owns this row
                if rid_range is not None and not in_range(k):
                    continue  # another range's task owns this row
                counts[k] += 1
                originals[k] = row
        return counts, originals

    after, rows_a = load(part.adds)
    before, rows_b = load(part.removes)
    commit_ts = datetime.fromtimestamp(part.ts, tz=timezone.utc)
    # Delta's 4-value change-type enum: an UPDATE commit's net diff is
    # exactly the updated rows (copied-unchanged rows cancel in the
    # multiset diff), so its deletes ARE preimages and its inserts ARE
    # postimages — labeling rides the commit operation, matching how
    # Delta derives CDF types from the command, not from row pairing.
    # (MERGE stays insert/delete: its commits mix updates with true
    # inserts/deletes and the log has no row-level provenance.)
    is_update = part.op == "update"
    ins_label = "update_postimage" if is_update else "insert"
    del_label = "update_preimage" if is_update else "delete"
    def emit(row, label):
        if with_rid:  # rid rides LAST in the output schema, after the
            # CDF metadata columns — the read tuples carry it last too
            return (*row[:-1], label, part.version, commit_ts, row[-1])
        if read_rid:  # rid was read only for image pairing: drop it
            return (*row[:-1], label, part.version, commit_ts)
        return (*row, label, part.version, commit_ts)

    # repr-keyed sort: deterministic output order even when column
    # types are mixed/nested (raw tuple comparison would TypeError)
    ins_items = sorted((after - before).items(), key=lambda kv: repr(kv[0]))
    del_items = sorted((before - after).items(), key=lambda kv: repr(kv[0]))
    paired: set = set()
    if as_images and not is_update:
        # id-paired delete+insert within ONE commit = a row UPDATE
        # (rewrites preserve ids; MERGE/MOR matched rows inherit them)
        del_rids = {k[-1] for k, _ in del_items if k[-1] is not None}
        ins_rids = {k[-1] for k, _ in ins_items if k[-1] is not None}
        paired = del_rids & ins_rids
    for k, n in ins_items:
        lbl = "update_postimage" if paired and k[-1] in paired else ins_label
        for _ in range(n):
            yield emit(rows_a[k], lbl)
    for k, n in del_items:
        lbl = "update_preimage" if paired and k[-1] in paired else del_label
        for _ in range(n):
            yield emit(rows_b[k], lbl)


def oracle_rows(parts, fields, with_rid=False, as_images=False) -> list:
    """Oracle output of planned partitions, in partition order."""
    out = []
    for p in parts:
        if isinstance(p, _ChangePartition):
            out.extend(_read_change_rows(p, fields, with_rid, as_images))
        elif p.path:
            out.extend(_read_parquet_rows(p.path, fields, p.dv, p.base, with_rid))
    return out


def _lower(options: dict) -> dict:
    # Spark hands data sources case-insensitive (lower-cased) options
    return {k.lower(): str(v) for k, v in options.items()}


def oracle_batch(options: dict, schema) -> list:
    """Oracle rows of ``spark.read.format("acidtable")`` with
    ``options`` over the planned partitions of the batch reader."""
    r = _AcidBatchReader(_lower(options), schema.fieldNames())
    return oracle_rows(r.partitions(), r._fields, r._rid, r._images)


def oracle_stream(options: dict, schema, start: int, end: int) -> list:
    """Oracle rows of the stream reader over commits ``[start, end)``."""
    r = _AcidStreamReader(_lower(options), schema.fieldNames())
    parts = r.partitions({"version": start}, {"version": end})
    return oracle_rows(parts, r._fields, r._rid, r._images)


def canon(v):
    """Comparable form of one emitted value, for either side: NaN →
    sentinel, datetimes → epoch seconds (Spark collects naive local
    datetimes, the oracle builds aware UTC ones), Spark Rows and dicts →
    sorted items, map entries (pyarrow yields ``(key, value)`` tuples,
    Spark a dict) → sorted items, lists → tuples."""
    if isinstance(v, float) and v != v:
        return "__nan"
    if isinstance(v, datetime):
        return v.timestamp()
    if isinstance(v, Row):
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, list):
        if all(type(x) is tuple and len(x) == 2 for x in v):
            return tuple(sorted((k, canon(x)) for k, x in v))
        return tuple(canon(x) for x in v)
    return v


def canon_rows(rows) -> list:
    """Rows as canonical tuples, sorted by repr (order-free compare
    that still tells −0.0 from +0.0)."""
    return sorted((tuple(canon(v) for v in r) for r in rows), key=repr)
