"""Manifest-gated incremental table views — the production refresh
shape (VERDICT r10 #2).

Round 10's refreshers proved refreshed ≡ rebuilt, but wrote the
refreshed artifact by COPYING the snapshot into a new directory and
appending — most of the measured refresh cost was parquet copy, not
increment math. This module gives refreshes the in-place shape a
lakehouse table format uses (the Iceberg/Delta commit protocol reduced
to its load-bearing core, reimplemented from first principles over
plain parquet directories):

- A view's root directory holds a ``_MANIFEST`` JSON file — the ONLY
  source of truth for what the view contains. Members are parquet
  directories: ``data`` members union together; ``delete`` members are
  equality-delete files — each is anti-joined against the data on ITS
  OWN columns (a delete file with column ``id_a`` removes every data
  row whose ``id_a`` appears in it), which is how a refresh expresses
  "drop the old pairs touching these docs" without rewriting the base.
- The BASE member can live OUTSIDE the view root (the already-written
  snapshot artifact) — an in-place refresh never copies it.
- Every commit (append / delete / compact) writes its parquet
  directory FIRST, then publishes a new manifest via write-temp +
  ``os.replace`` — atomic on POSIX. A crash between the two leaves an
  orphan directory the reader never sees: the previous generation
  keeps being served (the completion-marker discipline of a parquet
  ``_SUCCESS`` file, generalized from one boolean to a generation log).
- Commits carry TAGS; ``has_tag`` makes refreshes idempotent (a re-run
  of an already-committed increment is a no-op, the reference's C5
  "processed correctly and not duplicated" invariant).
- ``compact`` resolves the view (data minus deletes) into a single
  member sized by the compaction bin rule (cumulative bytes / target —
  the same running-sum assignment ``plans/analytics.
  q_compaction_bin_plan`` plans for day partitions, applied to the
  view's accumulated member files), publishes it, and garbage-collects
  the superseded members. At 100 TB compaction is the nightly
  maintenance pass; correctness never depends on it running.

Scale notes: the manifest is member-count-sized (driver JSON, a few
hundred bytes per commit); the reader is ONE multi-path parquet scan
plus one anti-join per delete member (delete files are
increment-sized, so those joins broadcast). ``os.replace`` atomicity
holds on a real cluster's driver-local staging or any filesystem with
atomic rename (HDFS, POSIX); object stores need the usual
rename-service substitute — the protocol boundary is documented here
rather than hidden.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_MANIFEST"

#: compact() output sizing: one output file per this many member bytes
#: (the analytics.COMPACTION_TARGET_BYTES knob, applied to view
#: members; tiny on purpose at test scale so compaction really bins)
COMPACT_TARGET_BYTES = 8 * 1024 * 1024


def read_manifest(root: str | Path) -> dict | None:
    """The current committed manifest, or None for an uninitialized
    view. Never looks at directories — orphans from crashed commits are
    invisible by design."""
    p = Path(root) / MANIFEST
    if not p.exists():
        return None
    return json.loads(p.read_text())


def _publish(root: Path, manifest: dict) -> None:
    """Atomically replace the manifest (write temp + os.replace): the
    commit point of every operation."""
    manifest = {**manifest, "cid": uuid.uuid4().hex}
    tmp = root / f"._manifest.{manifest['cid']}.tmp"
    tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
    os.replace(tmp, root / MANIFEST)


def _fingerprint_dir(path: str | Path) -> dict:
    """Cheap structural fingerprint of a parquet directory: file count,
    total bytes, and a hash of the sorted (name, size) listing. A
    metadata-only walk — no data read — so verifying it per external
    member at read time costs one directory listing."""
    import hashlib

    entries = sorted(
        (f.name, f.stat().st_size)
        for f in Path(path).rglob("*.parquet")
        if f.is_file()
    )
    h = hashlib.sha256(
        "\n".join(f"{n}\t{s}" for n, s in entries).encode()
    ).hexdigest()[:16]
    return {
        "nfiles": len(entries),
        "bytes": sum(s for _n, s in entries),
        "listing": h,
    }


def init_view(root: str | Path, base_paths: list[str]) -> None:
    """Create generation 0 over already-written base directories
    (absolute paths, typically OUTSIDE the root — the stored snapshot
    artifact, never copied). No-op if the view exists.

    Each base member records a structural fingerprint of its directory
    at init time; ``read_view`` refuses to serve a view whose external
    base changed underneath it (ADVICE r11: a manual in-place snapshot
    rebuild after a compact used to desync silently — now ANY in-place
    base mutation fails loudly, and the remedy — re-init or re-derive —
    is in the error)."""
    root = Path(root)
    root.mkdir(parents=True, exist_ok=True)
    if read_manifest(root) is not None:
        return
    _publish(
        root,
        {
            "gen": 0,
            "members": [
                {
                    "path": str(p),
                    "kind": "data",
                    "gen": 0,
                    "fp": _fingerprint_dir(p),
                }
                for p in base_paths
            ],
            "tags": [],
        },
    )


def has_tag(root: str | Path, tag: str) -> bool:
    m = read_manifest(root)
    return bool(m) and tag in m["tags"]


def get_note(root: str | Path, tag: str) -> dict | None:
    """The JSON note recorded with a commit's tag (``append_delta``'s
    ``note``), or None when the tag has no note / does not exist."""
    m = read_manifest(root)
    if m is None:
        return None
    return m.get("notes", {}).get(tag)


def _member_path(root: Path, member: dict) -> str:
    p = member["path"]
    return p if os.path.isabs(p) else str(root / p)


def _commit(
    root: Path,
    new_members: list[dict],
    tag: str,
    replace: bool,
    note: dict | None = None,
) -> None:
    m = read_manifest(root)
    if m is None:
        raise ValueError(f"uninitialized incremental view: {root}")
    members = new_members if replace else m["members"] + new_members
    notes = dict(m.get("notes", {}))
    if note is not None:
        notes[tag] = note
    _publish(
        root,
        {
            "gen": m["gen"] + 1,
            "members": members,
            "tags": m["tags"] + [tag],
            **({"notes": notes} if notes else {}),
        },
    )


def append_delta(
    df: DataFrame,
    root: str | Path,
    tag: str,
    deletes: list[DataFrame] | None = None,
    auto_compact_after: int | None = None,
    note: dict | None = None,
) -> None:
    """One refresh commit: write the increment's data rows (and any
    equality-delete key files) as new parquet directories under the
    root, then publish. Idempotence is the CALLER's tag check
    (``has_tag``) — append_delta itself always commits. Cost is
    increment-sized: the base member is referenced, never rewritten.
    ``note`` attaches a small JSON record to the tag (readable back via
    ``get_note``) — provenance the skip path can verify, e.g. the
    streaming ingester's batch file listing.

    ``auto_compact_after`` bounds merge-on-read amplification (ADVICE
    r11: every delete-carrying commit adds one anti-join to the read
    fold, and nothing scheduled compaction): once the committed
    manifest carries at least that many delete members, ``compact``
    runs immediately after the commit. The commit itself is already
    published when compaction starts, so a compaction crash loses
    nothing — the pre-compact generation keeps being served. Leave
    ``None`` where callers prove per-generation invariants (the soak's
    per-day assertions) or schedule compaction on their own cadence."""
    root = Path(root)
    m = read_manifest(root)
    if m is None:
        raise ValueError(f"uninitialized incremental view: {root}")
    gen = m["gen"] + 1
    new_members: list[dict] = []
    for i, d in enumerate(deletes or []):
        rel = f"delete_{gen:05d}_{i}"
        d.write.mode("overwrite").parquet(str(root / rel))
        new_members.append({"path": rel, "kind": "delete", "gen": gen})
    rel = f"delta_{gen:05d}"
    df.write.mode("overwrite").parquet(str(root / rel))
    new_members.append({"path": rel, "kind": "data", "gen": gen})
    _commit(root, new_members, tag, replace=False, note=note)
    if auto_compact_after is not None:
        n_deletes = sum(
            1
            for mm in read_manifest(root)["members"]
            if mm["kind"] == "delete"
        )
        if n_deletes >= auto_compact_after:
            compact(df.sparkSession, root)


def merge_upsert(
    df: DataFrame,
    root: str | Path,
    key_cols: list[str],
    tag: str,
    auto_compact_after: int | None = None,
) -> None:
    """MERGE (upsert) sugar: one commit whose equality-delete file
    holds ``df``'s key projection and whose data member is ``df``
    itself — every key the increment touches is dropped from prior
    generations and replaced by the increment's row (drop-then-add in
    one atomic commit). The caller owns the usual contracts: check
    ``has_tag`` first, and ``df`` must carry at most one row per key
    (two rows sharing a key would BOTH survive — same as SQL MERGE
    with a duplicated source)."""
    keys = df.select(*key_cols).distinct()
    append_delta(
        df,
        root,
        tag=tag,
        deletes=[keys],
        auto_compact_after=auto_compact_after,
    )


def delete_where(
    spark: SparkSession,
    root: str | Path,
    predicate,
    key_cols: list[str],
    tag: str,
) -> None:
    """Row-level DELETE WHERE: materialize the keys of the CURRENT
    view's rows matching ``predicate`` (a pyspark Column) into an
    equality-delete commit. ``key_cols`` must identify rows (the fold
    drops EVERY row sharing a matched key — on a key-unique view that
    is exactly the matched set). The commit's data member is an empty
    frame — the manifest stays uniform (every generation has a data
    member) and the fold drops the matched rows from every prior
    generation. Predicate evaluation is one pruned view scan;
    the delete file is matched-keys-sized. The empty data member
    carries the full view schema so later projected reads stay
    valid."""
    cur = read_view(spark, root)
    keys = cur.filter(predicate).select(*key_cols).distinct()
    append_delta(cur.limit(0), root, tag=tag, deletes=[keys])


def read_view(
    spark: SparkSession,
    root: str | Path,
    columns: list[str] | None = None,
    as_of_gen: int | None = None,
) -> DataFrame:
    """The committed view, folded in COMMIT ORDER: a generation's
    delete members anti-join everything committed BEFORE it (on the
    delete file's own columns), then its data member unions in — so a
    refresh that drops old pairs for a doc set and re-adds that set's
    recomputed rows in the same commit expresses exactly
    'drop-then-add', and its own additions are never deleted. Delete
    files are increment-sized, so the anti-joins broadcast; read
    amplification grows one anti-join per delete-carrying commit until
    ``compact`` resolves the chain (the merge-on-read trade every
    lakehouse format makes).

    ``columns`` projects every data member before the union — the view
    schema — so a base artifact carrying extra columns (the snapshot
    table often stores more than the refreshed view's contract) unions
    cleanly with increment-projected deltas, and the projection reaches
    each member's parquet scan (column pruning per member).

    Additive schema evolution is supported: a later commit may carry
    NEW columns, and members written before that commit fold in with
    those columns null (``unionByName(allowMissingColumns=True)`` — the
    Delta/Iceberg add-column semantic). A requested column no member
    carries still fails at the final projection (typo safety), and a
    data member sharing NO requested column raises here rather than
    degenerating to a zero-column scan. Renames and type changes are
    NOT schema evolution — they fail loudly at union resolution.

    ``as_of_gen`` time-travels: only members committed at or before
    that generation fold in, so the result is exactly the view as some
    earlier ``read_view`` would have served it — the audit/debug read
    ("what did day j's refresh actually publish?"). History lives in
    the live manifest's members, so it reaches back to the most recent
    ``compact`` and no further (compaction collapses members into one;
    the snapshot-expiration trade every lakehouse format makes) —
    reading past expired history raises rather than serving a partial
    fold."""
    from pyspark.sql import functions as F

    root = Path(root)
    m = read_manifest(root)
    if m is None:
        raise ValueError(f"uninitialized incremental view: {root}")
    members = m["members"]
    if as_of_gen is not None:
        if as_of_gen > int(m["gen"]):
            raise ValueError(
                f"as_of_gen={as_of_gen} is in the future: {root} is at "
                f"generation {m['gen']}"
            )
        members = [
            mm for mm in members if int(mm.get("gen", 0)) <= as_of_gen
        ]
        if not any(mm["kind"] == "data" for mm in members):
            raise ValueError(
                f"as_of_gen={as_of_gen} predates this view's retained "
                f"history ({root}): a compact has collapsed earlier "
                "generations; time travel reaches back only to the "
                "most recent compaction"
            )
    for mm in members:
        # external bases are referenced in place; refuse to serve a
        # view whose base was rebuilt underneath the manifest
        if os.path.isabs(mm["path"]) and "fp" in mm:
            now = _fingerprint_dir(mm["path"])
            if now != mm["fp"]:
                raise ValueError(
                    f"incremental view base changed on disk: "
                    f"{mm['path']} (recorded {mm['fp']}, found {now}); "
                    f"re-derive the view (init over the rebuilt base) "
                    f"or re-run the refresh chain — serving it would "
                    f"silently mix generations"
                )
    by_gen: dict[int, list[dict]] = {}
    for mm in members:
        by_gen.setdefault(int(mm.get("gen", 0)), []).append(mm)
    out = None
    for g in sorted(by_gen):
        for mm in by_gen[g]:
            if mm["kind"] == "delete" and out is not None:
                dd = spark.read.parquet(_member_path(root, mm))
                out = out.join(
                    F.broadcast(dd), on=dd.columns, how="left_anti"
                )
        for mm in by_gen[g]:
            if mm["kind"] == "data":
                d = spark.read.parquet(_member_path(root, mm))
                if columns is not None:
                    keep = [c for c in columns if c in d.columns]
                    if not keep:
                        raise ValueError(
                            f"data member {mm['path']} of {root} carries "
                            f"none of the requested columns {columns} — "
                            "a view-contract violation, not evolution"
                        )
                    d = d.select(*keep)
                out = (
                    d
                    if out is None
                    else out.unionByName(d, allowMissingColumns=True)
                )
    if out is None:
        raise ValueError(f"incremental view has no data members: {root}")
    if columns is not None:
        # enforce presence and order of the full contract; a column no
        # member carries fails here (AnalysisException), by design
        out = out.select(*columns)
    return out


def read_changes(
    spark: SparkSession,
    root: str | Path,
    from_gen: int,
    to_gen: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Change-data-feed read: every row the commits in
    ``(from_gen, to_gen]`` deleted or inserted, stamped with
    ``change_type`` ('delete' / 'insert') and ``commit_gen`` — the
    Delta CDF shape, derived entirely from the manifest (no extra
    bookkeeping was ever written). Deleted rows carry the CONTENT they
    had when deleted (the equality-delete keys semi-join the folded
    state just before their generation), so an upsert emits its
    preimage as a delete and its postimage as an insert. A downstream
    consumer replays the feed in (commit_gen, delete-before-insert)
    order to reproduce the view transition exactly.

    Like time travel, the feed lives in the live manifest's members: a
    range that CROSSES a compaction raises (the compacted member is a
    rewrite, not a change) — narrow the range to start at or after the
    compaction generation. Cost: one pruned scan per member in range
    plus one broadcast semi/anti-join per delete member — the same
    class as ``read_view``."""
    from pyspark.sql import functions as F

    root = Path(root)
    m = read_manifest(root)
    if m is None:
        raise ValueError(f"uninitialized incremental view: {root}")
    top = int(m["gen"])
    if to_gen is None:
        to_gen = top
    if not (0 <= from_gen <= to_gen <= top):
        raise ValueError(
            f"read_changes range ({from_gen}, {to_gen}] out of bounds "
            f"for {root} at generation {top}"
        )
    in_range = [
        mm
        for mm in m["members"]
        if from_gen < int(mm.get("gen", 0)) <= to_gen
    ]
    if any(
        Path(mm["path"]).name.startswith("compact_") for mm in in_range
    ):
        raise ValueError(
            f"change feed ({from_gen}, {to_gen}] on {root} crosses a "
            "compaction: the compacted member is a rewrite, not a "
            "change — start the range at or after the compaction "
            "generation"
        )
    state = read_view(spark, root, as_of_gen=from_gen)

    def stamp(df: DataFrame, ct: str, g: int) -> DataFrame:
        return df.select(
            F.lit(ct).alias("change_type"),
            F.lit(int(g)).cast("long").alias("commit_gen"),
            *df.columns,
        )

    out = stamp(state.limit(0), "insert", from_gen).limit(0)
    by_gen: dict[int, list[dict]] = {}
    for mm in in_range:
        by_gen.setdefault(int(mm.get("gen", 0)), []).append(mm)
    for g in sorted(by_gen):
        for mm in by_gen[g]:
            if mm["kind"] == "delete":
                dd = spark.read.parquet(_member_path(root, mm))
                deleted = state.join(
                    F.broadcast(dd), on=dd.columns, how="left_semi"
                )
                out = out.unionByName(
                    stamp(deleted, "delete", g), allowMissingColumns=True
                )
                state = state.join(
                    F.broadcast(dd), on=dd.columns, how="left_anti"
                )
        for mm in by_gen[g]:
            if mm["kind"] == "data":
                d = spark.read.parquet(_member_path(root, mm))
                out = out.unionByName(
                    stamp(d, "insert", g), allowMissingColumns=True
                )
                state = state.unionByName(d, allowMissingColumns=True)
    if columns is not None:
        out = out.select("change_type", "commit_gen", *columns)
    return out


def compact(
    spark: SparkSession,
    root: str | Path,
    target_bytes: int = COMPACT_TARGET_BYTES,
) -> int:
    """Resolve the view into ONE data member and garbage-collect the
    superseded internal members. Output file count follows the
    compaction-bin rule (total member bytes // target, at least 1) —
    the q_compaction_bin_plan running-sum assignment collapsed to a
    single repartition because one resolved member replaces all bins.
    Returns the new generation. External (absolute-path) base members
    are folded INTO the compacted member and dropped from the manifest
    — after compaction the view is self-contained."""
    root = Path(root)
    m = read_manifest(root)
    if m is None:
        raise ValueError(f"uninitialized incremental view: {root}")
    total = 0
    for mm in m["members"]:
        p = Path(_member_path(root, mm))
        total += sum(
            f.stat().st_size for f in p.rglob("*.parquet") if f.is_file()
        )
    n_files = max(1, total // max(1, target_bytes))
    rel = f"compact_{m['gen'] + 1:05d}"
    read_view(spark, root).repartition(int(n_files)).write.mode(
        "overwrite"
    ).parquet(str(root / rel))
    _commit(
        root,
        [{"path": rel, "kind": "data", "gen": m["gen"] + 1}],
        tag=f"__compact_{m['gen'] + 1}",
        replace=True,
    )
    gc_orphans(root)
    return read_manifest(root)["gen"]


def gc_orphans(root: str | Path) -> list[str]:
    """Remove internal member directories no committed manifest entry
    references (crashed commits, superseded pre-compaction members).
    Only touches dirs under the root matching the member naming scheme;
    external base members are never deleted. Safe at any time: the
    manifest is the reader's only source of truth."""
    root = Path(root)
    m = read_manifest(root)
    if m is None:
        return []
    live = {
        mm["path"] for mm in m["members"] if not os.path.isabs(mm["path"])
    }
    removed = []
    for child in root.iterdir():
        if child.is_file() and child.name.startswith("._manifest."):
            # a crash between write_text and os.replace strands the
            # temp manifest; it was never the commit point, so removal
            # is always safe
            child.unlink(missing_ok=True)
            removed.append(child.name)
            continue
        if not child.is_dir():
            continue
        if not child.name.startswith(("delta_", "delete_", "compact_")):
            continue
        if child.name not in live:
            shutil.rmtree(child, ignore_errors=True)
            removed.append(child.name)
    return removed
