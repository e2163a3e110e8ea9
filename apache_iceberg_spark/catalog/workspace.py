"""Workspace-level multi-table commits — the documented Nessie property
the per-table snapshot log cannot express.

Nessie commits are CATALOG-level: one commit can change several tables
atomically, so a reader at any ref sees all of a publish or none of it
("transactions across tables" — the point of a catalog-level version
store; endpoint matrix at blog-zero-cost-data-lakehouse.md:373-397).
A table's own log keeps ``_versions.json`` inside ONE table path, so a
two-table publish there is two separate commits with a torn window
where readers see one but not the other.

This module lifts the same commit-log design one level up:

    <workspace>/
      _versions.json     # ONE log for ALL tables (base array, plus the
      _versions.jsonl    #   append segment): [{version, ts_ms, parent,
                         #   tables: {name: {"adds": [...]}
                         #                | {"set": [...]}}}]
      _refs.json         # workspace-level branches/tags + key index —
                         #   the table-level shape; like Nessie's, a
                         #   workspace BRANCH spans every table
      <table>/w{N}-<tok>/  # immutable data dirs, one per table per commit

``catalog/snapshots.py`` owns the version-log protocol for both layers,
and this module calls it with the workspace path: the base + append-
segment log and its ``O_EXCL`` lock, ``_refs.json`` I/O, ref resolution
and branch/tag CRUD, the one lineage walk and merge-base rule, the
commit critical section (head + branch CAS, pointer move, idempotency-
key index) and its retry loop, the idempotency lookup, ref protection,
the expiry core and the orphan reconcile step. ``CommitConflict`` is one
conflict type across both layers.

What this module adds is what is multi-table. A commit entry names only
the tables it TOUCHED, each as a delta (``adds``) or a restatement
(``set``) — O(commits) metadata — and records its ``parent`` workspace
version, so history is a TREE: resolving table T at version V walks V's
lineage collecting adds until a set. Readers of one version therefore
see every table exactly as that single commit left the workspace — both
tables of a publish, or neither — and a branch isolates multi-table
work-in-progress until one merge publishes ALL of it (the catalog-level
branch-WAP m36 oracle-checks; m30 is the same workflow one table at a
time). On top of that resolution sit the recorded layouts, named views,
table rename, and the per-table content rules of merge, transplant and
rollback; their commits go through the shared critical section.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import DataFrame, SparkSession

from apache_iceberg_spark.catalog.snapshots import (
    CommitConflict,
    _add_ref,
    _ancestry,
    _append_commit,
    _branch_head,
    _commit_locked,
    _data_dir,
    _ensure_main,
    _expire,
    _find_idempotent,
    _locked_state,
    _log_lock,
    _merge_base,
    _read_log,
    _read_refs,
    _remove_orphans,
    _resolve_ref as ws_resolve_ref,
    _retry_conflicts,
    _write_refs,
    compact_log as ws_compact_log,  # same file layout, one implementation
    create_branch,
    delete_branch,
)


def _resolve_table(
    log: list[dict], table: str, version: int | None = None
) -> list[str] | None:
    """Table ``table``'s full file set at ``version`` (default: the log
    tail): walk the version's PARENT CHAIN collecting ``adds`` until a
    ``set``. None if the table does not exist at that version. For a
    linear history this is the backwards log walk; for branched history
    it follows the right lineage."""
    if not log:
        return None
    by_v = {e["version"]: e for e in log}
    if version is None:
        version = log[-1]["version"]
    elif version not in by_v:
        raise ValueError(
            f"version {version} not found (have {sorted(by_v)})"
        )
    chain: list[list[str]] = []
    for v in _ancestry(by_v, version):
        t = by_v[v]["tables"].get(table)
        if t is None:
            continue
        if "set" in t:
            chain.append(t["set"])
            break
        chain.append(t["adds"])
    else:
        if not chain:
            return None
    out: list[str] = []
    for part in reversed(chain):
        out.extend(part)
    # an EMPTY restatement ({"set": []}) is a tombstone: ws_rollback
    # emits it for tables created after the rollback target, so they
    # read as absent at the new version (every real commit writes at
    # least one dir, so empty never means "table with no files")
    return out if out else None


def _table_layout(by_v: dict[int, dict], version: int, table: str):
    """The most recently recorded ``partition_by`` for ``table`` along
    ``version``'s lineage; the sentinel ``"unknown"`` when no touching
    entry recorded one (pre-validation commits)."""
    for v in _ancestry(by_v, version):
        t = by_v[v]["tables"].get(table)
        if t is not None:
            return t.get("partition_by", "unknown")
    return "unknown"


def _ws_first_touch(st, table: str, version: int | None):
    """(exists, layout) for ``table`` along ``version``'s lineage from
    its FIRST touching entry — the commit plan's existence + layout
    check in O(steps to the last touch) instead of a full file-set
    resolution (for a table committed every micro-batch that is ONE
    step). An empty ``set`` is the tombstone (absent); ``adds`` implies
    a live parent (appends to a tombstoned table are creations by the
    caller's own rule), so any touch that is not an empty set means the
    table exists. Runs on the shared cached state: call under
    ``_locked_state``."""
    for v in _ancestry(st.by_v, version):
        t = st.by_v[v]["tables"].get(table)
        if t is not None:
            exists = bool(t["set"]) if "set" in t else True
            return exists, t.get("partition_by", "unknown")
    return False, "unknown"


def ws_commit(
    ws_path: str,
    dfs: dict[str, DataFrame],
    mode: str = "append",
    ts_ms: int | None = None,
    partition_by: dict[str, list[str]] | None = None,
    idempotency_key: str | None = None,
    branch: str = "main",
    max_retries: int = 0,
    keys_max: int | None = None,
    _write=None,
) -> int:
    """Commit EVERY table in ``dfs`` as ONE atomic workspace version on
    ``branch`` (default main).

    ``mode='append'`` extends each table's file set (a table not yet in
    the workspace starts fresh either way); ``mode='overwrite'``
    restates the named tables. Tables absent from ``dfs`` are untouched
    and keep their state in the new version — so a reader of version N
    resolves a CONSISTENT cross-table state from one commit entry, the
    property a per-table log cannot give (the torn-publish window;
    test_round10_ops proves the dual). Returns the new version.

    A non-main ``branch`` isolates the commit: main readers see nothing
    until ``ws_merge_branch`` publishes the WHOLE branch — multi-table
    ingest with one atomic go-live (m36).

    All data directories are written BEFORE the log swap; the swap is
    the shared CAS (``_append_commit``: raises ``CommitConflict`` on a
    lost race) and the branch pointer moves inside the same critical
    section, so a crash or lost race leaves only uniquely-named orphan
    dirs, never a half-visible publish.

    ``idempotency_key``: the same retry contract as the table-level
    ``commit_append_ref`` — a commit on this branch's lineage bearing
    the same key returns the original version without writing, so a
    streaming foreachBatch publisher passing the batch id gets
    exactly-once multi-table publishes across Spark's batch re-runs
    (st20). The check is the shared O(1) indexed lookup.

    ``max_retries``: retries a LOST CAS race here instead of raising
    ``CommitConflict``. The data directories — the expensive Spark jobs
    — are written ONCE and reused; each retry re-plans metadata only
    (parent/head, idempotency, layout, and the set-vs-adds shape, since
    a racer may have created a table this commit also touches) and
    re-attempts the swap after a jittered backoff. Two concurrent
    st20-style streams publishing to one workspace therefore both land,
    instead of one thrashing through orphaned rewrites.

    ``keys_max``: bound the idempotency index to the newest N keyed
    commits — the O(1)-refs knob for unexpiring keyed streams (a replay
    older than the window re-commits; pick it beyond any possible
    replay distance, same caveat as expiry's key pruning).

    ``_write``: probe hook — ``(name, df, ddir) -> None`` writes a
    table's data directory in place of the Spark parquet job, so the
    commit-path probe can drive this exact plan+CAS at 100k commits.

    Per-commit metadata CPU is O(appended bytes): head and the per-table
    existence/layout checks read through the incremental log cache
    (first-touch lineage walks, one step for a table committed every
    micro-batch), and a fully-indexed idempotency miss is one dict
    probe."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    if not dfs:
        raise ValueError("ws_commit needs at least one table")
    os.makedirs(ws_path, exist_ok=True)
    written: dict[str, str] = {}  # table -> data dir, written ONCE

    def attempt() -> int:
        refs = _read_refs(ws_path)
        if branch in refs["tags"]:
            raise ValueError(f"cannot commit to tag {branch!r}")
        if branch != "main" and branch not in refs["branches"]:
            raise ValueError(f"unknown branch {branch!r}")
        with _locked_state(ws_path) as st:
            head = st.log[-1]["version"] if st.log else None
            if branch == "main":
                parent_v = refs["branches"].get("main", head)
            else:
                parent_v = refs["branches"][branch]
            touch = {
                name: _ws_first_touch(st, name, parent_v) for name in dfs
            }
        if idempotency_key is not None:
            found = _find_idempotent(
                ws_path, refs, branch, parent_v, idempotency_key
            )
            if found is not None:
                return found
        version = (head + 1) if head is not None else 1
        tables: dict[str, dict] = {}
        for name, df in dfs.items():
            pby = (partition_by or {}).get(name)
            exists, recorded = touch[name]
            if exists and mode != "overwrite":
                # Layout validation at commit time, the table-level
                # store's rule lifted here: a mis-partitioned append
                # poisons every later multi-dir read.
                if recorded != "unknown" and (recorded or None) != (pby or None):
                    raise ValueError(
                        f"partition_by={pby!r} for table {name!r} does "
                        f"not match its recorded layout {recorded!r}; "
                        "appends must keep the layout (overwrite to "
                        "change it)"
                    )
            if name not in written:
                tdir = os.path.join(ws_path, name)
                os.makedirs(tdir, exist_ok=True)
                ddir = _data_dir(tdir, "w", version)
                if _write is not None:
                    _write(name, df, ddir)
                else:
                    w = df.write.mode("overwrite")
                    if pby:
                        w = w.partitionBy(*pby)
                    w.parquet(ddir)
                written[name] = ddir
            if mode == "overwrite" or not exists:
                tables[name] = {"set": [written[name]], "partition_by": pby}
            else:
                tables[name] = {"adds": [written[name]], "partition_by": pby}
        entry = {
            "version": version,
            "ts_ms": int(time.time() * 1000) if ts_ms is None else ts_ms,
            "tables": tables,
        }
        if parent_v is not None:
            entry["parent"] = parent_v
        if idempotency_key is not None:
            entry["idempotency_key"] = idempotency_key
        _append_commit(
            ws_path,
            entry,
            expected_head=head,
            move_branch=branch,
            expected_branch_v=parent_v,
            keys_max=keys_max,
        )
        return version

    return _retry_conflicts(max_retries, attempt)


def ws_read(
    spark: SparkSession,
    ws_path: str,
    table: str,
    version: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Read one table at a workspace version or ref. Because the version
    is WORKSPACE-scoped, two ``ws_read`` calls with the same version (or
    the same tag/branch) are guaranteed mutually consistent — the
    cross-table read contract m34 oracle-checks."""
    from apache_iceberg_spark.catalog.snapshots import _read_dirs

    if ref is not None:
        if version is not None:
            raise ValueError("pass version or ref, not both")
        version = ws_resolve_ref(ws_path, ref)
    log = _read_log(ws_path)
    if not log:
        raise ValueError(f"no snapshots at {ws_path}")
    if version is None and "main" in _read_refs(ws_path)["branches"]:
        version = ws_resolve_ref(ws_path, "main")
    paths = _resolve_table(log, table, version)
    if paths is None:
        at = version if version is not None else log[-1]["version"]
        raise ValueError(f"table {table!r} does not exist at v{at}")
    return _read_dirs(spark, paths)


def ws_read_at(spark: SparkSession, ws_path: str, name: str) -> DataFrame:
    """Workspace flavor of the ``table@ref`` sugar:
    ``ws_read_at(spark, ws, "sales@etl")`` reads table ``sales`` at the
    workspace branch/tag ``etl``; a bare name reads main — Nessie's
    reference syntax, where the ref scopes the whole catalog so two
    reads at one ref are mutually consistent.

    VIEWS resolve through the same address: ``high_value@audit`` executes
    the view's SQL as stored AT that ref against the tables AS OF that ref
    — the documented Nessie views+branches matrix
    (blog-zero-cost-data-lakehouse.md:345-397), where a ref scopes view
    text, table set, and table contents together. Tables win a (disallowed
    but legacy-possible) name collision, matching ws_create_view's
    namespace rule."""
    from apache_iceberg_spark.catalog.snapshots import parse_at_ref

    table, ref = parse_at_ref(name)
    log = _read_log(ws_path)
    version = ws_resolve_ref(ws_path, ref)
    if (
        _resolve_table(log, table, version) is None
        and table in _resolve_views(log, version)
    ):
        return ws_read_view(spark, ws_path, table, version=version)
    return ws_read(spark, ws_path, table, ref=ref)


def ws_read_incremental(
    spark: SparkSession,
    ws_path: str,
    table: str,
    from_version: int,
    to_version: int,
) -> DataFrame:
    """The rows ``table`` gained between two workspace versions — the
    table-level ``read_incremental`` at workspace granularity, and the
    audit input of the multi-table branch-WAP (m36): gates scan ONLY
    the staged delta files, never the table. Raises if files were
    rewritten in the range (the diff is then not an append delta)."""
    from apache_iceberg_spark.catalog.snapshots import _read_dirs

    log = _read_log(ws_path)
    base = _resolve_table(log, table, from_version)
    target = _resolve_table(log, table, to_version)
    if target is None:
        raise ValueError(f"table {table!r} does not exist at v{to_version}")
    base_set = set(base or [])
    if not base_set.issubset(target):
        raise ValueError(
            "files were rewritten between the two versions; the "
            "incremental append scan is undefined"
        )
    delta = [p for p in target if p not in base_set]
    if not delta:
        return _read_dirs(spark, target).limit(0)
    return _read_dirs(spark, delta)


def ws_list_versions(ws_path: str) -> list[dict]:
    return list(_read_log(ws_path))


def ws_list_tables(ws_path: str, version: int | None = None) -> list[str]:
    """Every table that exists at ``version`` (default: main / head)."""
    log = _read_log(ws_path)
    if version is None and "main" in _read_refs(ws_path)["branches"]:
        version = ws_resolve_ref(ws_path, "main")
    names = {n for e in log for n in e["tables"]}
    return sorted(
        n for n in names if _resolve_table(log, n, version) is not None
    )


def ws_create_tag(ws_path: str, name: str, version: int | None = None) -> int:
    """Pin a workspace version under a name — because the version spans
    EVERY table, the tag is a consistent cross-table snapshot ('the
    state we audited'), which is exactly what a per-table tag cannot
    promise."""
    log = _read_log(ws_path)
    if not log:
        raise ValueError(f"no snapshots at {ws_path}")
    if version is None:
        version = ws_resolve_ref(ws_path, "main")
    elif version not in {e["version"] for e in log}:
        raise ValueError(f"version {version} not found")
    return _add_ref(ws_path, "tags", name, version)


def ws_create_branch(
    ws_path: str, name: str, from_ref: str = "main"
) -> int:
    """A movable pointer spanning EVERY table — Nessie's actual branch
    model (a branch of the catalog, not of one table): multi-table
    work-in-progress accumulates on it invisibly to main until one
    merge publishes everything."""
    return create_branch(ws_path, name, from_ref)


def ws_delete_branch(ws_path: str, name: str) -> None:
    """Abandon a workspace branch: one ref deletion — the reject path of
    the multi-table WAP, costing zero data operations for ANY number of
    staged tables."""
    delete_branch(ws_path, name)


def ws_merge_branch(
    ws_path: str, src: str, into: str = "main", ts_ms: int | None = None
) -> int:
    """Publish branch ``src`` into ``into`` — ATOMICALLY for every table
    the branch touched, which is the whole point of catalog-level
    branches: a reader of ``into`` sees all the branch's tables move in
    one version hop, or none. Three regimes, decided by the same
    merge-base rule as the table-level ``merge_branch``:

    - no-op when ``src`` is already an ancestor of (or equal to) ``into``;
    - FAST-FORWARD as a pure pointer advance when ``into`` did not move
      (git's FF — zero new metadata, zero data);
    - diverged: a table only ONE side touched replays that side's
      change wholesale — additions as a delta, a rewrite or creation
      as a restatement (unambiguous, since the other side never moved
      it); a table BOTH sides touched merges when both only ADDED files
      since the merge base (concurrent ingest), and raises naming the
      conflicting tables when either side rewrote."""
    with _log_lock(ws_path):
        # Everything (reads included) inside the critical section: the
        # merge is pure metadata, and appending to a log read OUTSIDE
        # the lock would drop a commit that landed in between.
        log = _read_log(ws_path)
        by_v = {e["version"]: e for e in log}
        refs = _ensure_main(ws_path, _read_refs(ws_path))
        for r in (src, into):
            if r not in refs["branches"]:
                raise ValueError(f"unknown branch {r!r}")
        src_v, into_v = refs["branches"][src], refs["branches"][into]
        base_v = _merge_base(by_v, src_v, into_v)
        if base_v == src_v:
            return into_v  # up to date (includes equal heads)
        if base_v == into_v:
            # fast-forward: pointer advance, no new commit
            refs["branches"][into] = src_v
            _write_refs(ws_path, refs)
            return src_v
        # diverged: per-table content-aware union
        if base_v is None:
            raise ValueError(
                f"branches {src!r} and {into!r} share no common ancestor"
            )
        names = {
            n
            for v in (src_v, into_v)
            for x in _ancestry(by_v, v)
            for n in by_v[x]["tables"]
        }
        tables: dict[str, dict] = {}
        conflicts: list[str] = []
        for n in sorted(names):
            b = set(_resolve_table(log, n, base_v) or [])
            s = _resolve_table(log, n, src_v)
            t = _resolve_table(log, n, into_v)
            s_set, t_set = set(s or []), set(t or [])
            if s_set == t_set:
                continue  # untouched or identical on both sides
            if s_set == b:
                continue  # only target touched: its state stands
            s_layout = _table_layout(by_v, src_v, n)
            if t_set == b:
                # Only src touched it: replay src wholesale — additions
                # as a delta, a rewrite or creation as a restatement.
                # Unambiguous because the target never moved the table.
                extra = (
                    {}
                    if s_layout == "unknown"
                    else {"partition_by": s_layout}
                )
                if b and b.issubset(s_set):
                    adds = [p for p in (s or []) if p not in b]
                    if adds:
                        tables[n] = {"adds": adds, **extra}
                else:
                    tables[n] = {"set": list(s or []), **extra}
                continue
            # Both sides diverged from the base: mergeable only when
            # both purely added (concurrent ingest).
            if not (b.issubset(s_set) and b.issubset(t_set)):
                conflicts.append(n)
                continue
            t_layout = _table_layout(by_v, into_v, n)
            if (
                s_layout != "unknown"
                and t_layout != "unknown"
                and (s_layout or None) != (t_layout or None)
            ):
                conflicts.append(n)  # incompatible partition layouts
                continue
            adds = [
                p for p in (s or []) if p not in b and p not in t_set
            ]
            # carry the layout so validation stays armed after a merge
            layout = s_layout if s_layout != "unknown" else t_layout
            extra = (
                {} if layout == "unknown" else {"partition_by": layout}
            )
            if adds:
                tables[n] = {"adds": adds, **extra}
        # Views three-way-merge by definition text: a view only one side
        # changed replays that side; both-changed-differently is a
        # conflict like a both-rewritten table.
        base_views = _resolve_views(log, base_v)
        src_views = _resolve_views(log, src_v)
        into_views = _resolve_views(log, into_v)
        views: dict[str, dict] = {}
        for n in sorted(set(base_views) | set(src_views) | set(into_views)):
            bv, sv, tv = base_views.get(n), src_views.get(n), into_views.get(n)
            if sv == tv or sv == bv:
                continue  # identical, or only target moved it
            if tv == bv:  # only src moved it: replay
                views[n] = {"sql": sv} if sv is not None else {"drop": True}
            else:
                conflicts.append(f"view:{n}")
        if conflicts:
            raise ValueError(
                f"cannot merge {src!r} into {into!r}: tables "
                f"{conflicts} rewrote files the merge base v{base_v} "
                "referenced (view: entries changed on both sides); "
                "resolving rewritten content needs a rebase"
            )
        if not tables and not views:
            return into_v
        return _ws_append_locked(
            ws_path, log, into, ts_ms,
            {
                "parent": into_v,
                "merged_from": src_v,
                "tables": tables,
                **({"views": views} if views else {}),
            },
        )


def _resolve_any(ws_path: str, log: list[dict], ref) -> int:
    """A workspace version from either an explicit int or a ref name."""
    if isinstance(ref, int):
        if ref not in {e["version"] for e in log}:
            raise ValueError(f"version {ref} not found")
        return ref
    return ws_resolve_ref(ws_path, ref)


def ws_diff(ws_path: str, from_ref, to_ref) -> dict[str, dict]:
    """What changed between two workspace states, per table — the
    catalog-level answer the Nessie tree API's diff endpoint gives
    (blog-zero-cost-data-lakehouse.md:373-397) and the one-call answer
    'what changed between workspace v5 and v9, across ALL tables' that
    the table-level m31 ``ref_diff`` could only give one table at a time.
    Accepts version ints or ref names on either side. Returns
    ``{table: {"change": created|appended|rewritten|removed, "added":
    [dirs], "removed": [dirs]}}`` for every table whose file set
    differs; unchanged tables are omitted. Pure metadata:
    two lineage resolutions per table, zero data bytes read — the
    returned directory lists are exactly what an incremental consumer
    scans, so the diff is also the PLAN of the minimal catch-up read."""
    log = _read_log(ws_path)
    fv = _resolve_any(ws_path, log, from_ref)
    tv = _resolve_any(ws_path, log, to_ref)
    names = {n for e in log for n in e["tables"]}
    out: dict[str, dict] = {}
    for n in sorted(names):
        a = _resolve_table(log, n, fv)
        b = _resolve_table(log, n, tv)
        a_set, b_set = set(a or []), set(b or [])
        if a_set == b_set:
            continue
        added = [p for p in (b or []) if p not in a_set]
        removed = [p for p in (a or []) if p not in b_set]
        if a is None:
            change = "created"
        elif b is None:
            change = "removed"
        elif not removed:
            change = "appended"
        else:
            change = "rewritten"
        out[n] = {"change": change, "added": added, "removed": removed}
    return out


def ws_transplant(
    ws_path: str, src_version: int, onto: str = "main",
    ts_ms: int | None = None,
) -> int:
    """Cherry-pick ONE workspace commit onto another branch — Nessie's
    catalog-level transplant (the table-level m32 lifted to multi-table
    commits): the commit's own per-table deltas are
    replayed against ``onto`` WITHOUT its siblings, atomically for every
    table it touched. Only well-defined deltas transplant: an append's
    delta is its ``adds``; a creation (``set`` where the commit's parent
    had no such table) transplants as a creation if the target also
    lacks the table; a REWRITE (``set`` over an existing table) has no
    delta against a different base and raises, as does a creation whose
    target already has the table — Nessie's behavior for conflicting
    transplants. Metadata-only under the commit lock; zero data moved."""
    with _log_lock(ws_path):
        log = _read_log(ws_path)
        by_v = {e["version"]: e for e in log}
        refs = _ensure_main(ws_path, _read_refs(ws_path))
        if onto not in refs["branches"]:
            raise ValueError(f"unknown branch {onto!r}")
        if src_version not in by_v:
            raise ValueError(f"version {src_version} not found")
        src = by_v[src_version]
        if "parent" not in src:
            raise ValueError(
                f"commit v{src_version} has no recorded parent; only "
                "parented commits are transplantable"
            )
        parent_v = src["parent"]
        onto_v = refs["branches"][onto]
        tables: dict[str, dict] = {}
        for n in sorted(src["tables"]):
            t = src["tables"][n]
            onto_paths = _resolve_table(log, n, onto_v)
            if "set" in t:
                if _resolve_table(log, n, parent_v) is not None:
                    raise ValueError(
                        f"commit v{src_version} rewrote table {n!r}; "
                        "its delta is undefined against another base"
                    )
                if onto_paths is not None:
                    raise ValueError(
                        f"table {n!r} already exists on {onto!r}; "
                        "transplanting its creation would overwrite"
                    )
                delta: dict = {"set": list(t["set"])}
            else:
                onto_set = set(onto_paths or [])
                adds = [p for p in t["adds"] if p not in onto_set]
                if not adds:
                    continue  # the delta is already on the target
                if onto_paths is None:
                    delta = {"set": adds}  # absent target: arrives whole
                else:
                    t_layout = _table_layout(by_v, onto_v, n)
                    s_layout = t.get("partition_by", "unknown")
                    if (
                        t_layout != "unknown"
                        and s_layout != "unknown"
                        and (t_layout or None) != (s_layout or None)
                    ):
                        raise ValueError(
                            f"table {n!r} layouts differ between the "
                            f"transplanted commit ({s_layout!r}) and "
                            f"{onto!r} ({t_layout!r})"
                        )
                    delta = {"adds": adds}
            if "partition_by" in t:
                delta["partition_by"] = t["partition_by"]
            tables[n] = delta
        if not tables:
            return onto_v
        return _ws_append_locked(
            ws_path, log, onto, ts_ms,
            {
                "parent": onto_v,
                "transplanted_from": src_version,
                "tables": tables,
            },
        )


def ws_rollback(
    ws_path: str, version: int, branch: str = "main",
    ts_ms: int | None = None,
) -> int:
    """Roll the whole WORKSPACE back to ``version`` — the catalog-level
    twin of the table store's ``rollback_to`` (m20): one metadata-only
    commit restates EVERY table exactly as that version resolved it, so
    a bad multi-table publish is undone atomically — readers never see
    a half-rolled-back catalog, the property per-table rollbacks cannot
    give. The abandoned versions stay addressable for time travel until
    expiry. O(tables) driver metadata, zero data bytes at any size.
    Runs under the commit lock with the branch pointer moved in-section
    (same CAS discipline as ``ws_commit``)."""
    with _log_lock(ws_path):
        log = _read_log(ws_path)
        by_v = {e["version"]: e for e in log}
        if version not in by_v:
            raise ValueError(
                f"version {version} not found (have {sorted(by_v)})"
            )
        refs = _ensure_main(ws_path, _read_refs(ws_path))
        if branch in refs["tags"]:
            raise ValueError(f"cannot roll back a tag {branch!r}")
        if branch not in refs["branches"]:
            raise ValueError(f"unknown branch {branch!r}")
        names = {n for e in log for n in e["tables"]}
        tables: dict[str, dict] = {}
        head_v = refs["branches"][branch]
        for n in sorted(names):
            paths = _resolve_table(log, n, version)
            if paths is None:
                # absent at the target: if it exists at the head it was
                # created after V — tombstone it (empty restatement)
                if _resolve_table(log, n, head_v) is not None:
                    tables[n] = {"set": []}
                continue
            tables[n] = {"set": list(paths)}
            layout = _table_layout(by_v, version, n)
            if layout != "unknown":
                tables[n]["partition_by"] = layout
        # Views roll back too: the target's definitions
        # restate, and views created after the target tombstone — the
        # same atomic-undo property as the table set.
        target_views = _resolve_views(log, version)
        views: dict[str, dict] = {
            n: {"sql": s} for n, s in target_views.items()
        }
        for n in _resolve_views(log, head_v):
            if n not in target_views:
                views[n] = {"drop": True}
        return _ws_append_locked(
            ws_path, log, branch, ts_ms,
            {
                "parent": head_v,
                "rolled_back_to": version,
                "tables": tables,
                **({"views": views} if views else {}),
            },
        )


def _ws_dirs(log: list[dict], entries) -> list[str]:
    """Every data directory ``entries`` resolve (every table the log
    names, at each entry's version) — the workspace's dirs-of step for
    the shared expiry and orphan cores."""
    names = {n for e in log for n in e["tables"]}
    return [
        p
        for e in entries
        for n in names
        for p in _resolve_table(log, n, e["version"]) or []
    ]


def ws_remove_orphans(
    ws_path: str, older_than_ms: int | None = None
) -> list[str]:
    """Workspace-level ``remove_orphan_files``: delete ``w{N}-*`` data
    directories NO commit entry's resolution references — the debris of
    CAS losers and died-mid-commit writers (ws_commit writes data
    before the log swap, so a lost race leaves exactly this). The
    table-level ``remove_orphan_dirs`` reconcile step (``_remove_orphans``)
    run one level down, over each table directory: referenced-set from
    the log (every table at every version), candidate-set from a
    listing, difference removed; ``older_than_ms`` is the
    concurrent-writer safety window (directories at or after the cutoff
    survive)."""
    tables = [
        os.path.join(ws_path, d)
        for d in sorted(os.listdir(ws_path))
        if not d.startswith("_") and os.path.isdir(os.path.join(ws_path, d))
    ]
    return _remove_orphans(
        ws_path,
        older_than_ms,
        _ws_dirs,
        tables,
        re.compile(r"^w\d+(-[0-9a-f]{8})?$"),
    )


def ws_expire_versions(
    ws_path: str, older_than_ms: int, keep_last: int = 1,
    truncate_history: bool = False,
) -> list[int]:
    """Expire workspace versions committed before ``older_than_ms``,
    always retaining the ``keep_last`` most recent AND every
    ref-reachable version — a tagged cross-table state is addressable
    until the tag is deleted (``truncate_history``: heads only, the
    streaming retention mode of ``expire_snapshots_dirs``). Retained
    entries whose parent is expired are MATERIALIZED: every table
    resolvable at that version is inlined as a ``set`` (resolution
    computed on the full pre-prune log), so the entry stays readable
    without its pruned ancestor. Data directories referenced only by
    expired versions are deleted; directories any retained version
    still resolves survive (append commits share files across versions).
    The protocol is the shared expiry core (``_expire``). Returns the
    expired version numbers."""

    def materialize(log, by_v, e):
        tables = {}
        for n in {n for x in log for n in x["tables"]}:
            paths = _resolve_table(log, n, e["version"])
            if paths is not None:
                tables[n] = {"set": paths}
                layout = _table_layout(by_v, e["version"], n)
                if layout != "unknown":
                    tables[n]["partition_by"] = layout
        out = {k: v for k, v in e.items() if k not in ("parent", "views")}
        out["tables"] = tables
        # Views materialize the same way: the full resolved view map
        # inlines so definitions from expired ancestors survive the
        # chain cut.
        vmap = _resolve_views(log, e["version"])
        if vmap:
            out["views"] = {n: {"sql": s} for n, s in vmap.items()}
        return out

    return _expire(
        ws_path, older_than_ms, keep_last, truncate_history,
        materialize, _ws_dirs,
    )


# --- rename + named views ---------------------------------------------------
#
# The reference's documented Nessie endpoint matrix
# (blog-zero-cost-data-lakehouse.md:345-371) lists table RENAME and
# named-VIEW CRUD alongside the namespace/table CRUD ddl.py covers;
# these are their emulated twins on the workspace commit log. Both are
# METADATA-ONLY commits: a rename moves zero data bytes (the new name's
# ``set`` references the old name's existing directories; the old name
# gets the empty-set tombstone ws_rollback already established), and a
# view is SQL text versioned in the log (``views`` entry key), resolved
# against the SAME workspace version at read time so a view read at a
# tag sees the tables as that tag pinned them.


def _ws_append_locked(
    ws_path: str,
    log: list[dict],
    branch: str,
    ts_ms: int | None,
    fields: dict,
) -> int:
    """Append a metadata-only workspace commit ``{version, ts_ms,
    **fields}`` moving ``branch`` from ``fields["parent"]`` (the pointer
    the plan read), through the shared critical section
    (``_commit_locked``). The caller holds the commit lock and planned
    against ``log``: metadata-only plans are O(log walk), so holding the
    lock is cheap and serializes them instead of needing the CAS retry
    loop data commits use."""
    head = log[-1]["version"]
    entry = {
        "version": head + 1,
        "ts_ms": int(time.time() * 1000) if ts_ms is None else ts_ms,
        **fields,
    }
    _commit_locked(
        ws_path, entry, head, move_branch=branch,
        expected_branch_v=fields["parent"],
    )
    return head + 1


def _ws_meta_commit(
    ws_path: str,
    branch: str,
    ts_ms: int | None,
    plan,
) -> int:
    """Append a metadata-only workspace commit on ``branch``. ``plan(log,
    parent_v) -> (tables, views)`` builds the entry payload; it runs
    INSIDE the commit lock."""
    with _log_lock(ws_path):
        log = _read_log(ws_path)
        if not log:
            raise ValueError(f"no snapshots at {ws_path}")
        _refs, parent_v = _branch_head(ws_path, branch)
        tables, views = plan(log, parent_v)
        return _ws_append_locked(
            ws_path, log, branch, ts_ms,
            {
                "tables": tables,
                "parent": parent_v,
                **({"views": views} if views else {}),
            },
        )


def ws_rename_table(
    ws_path: str,
    old: str,
    new: str,
    branch: str = "main",
    ts_ms: int | None = None,
    force: bool = False,
) -> int:
    """Nessie's table RENAME as ONE metadata-only commit: the new name
    restates the old name's exact directory set (zero data moved — the
    rename of a 100 TB table is one log append), the old name is
    tombstoned, and because the entry is just another commit, HISTORY
    AND REFS ARE PRESERVED — a read at any pre-rename version, tag, or
    branch still resolves the old name (m53 oracle-pins that), and
    time travel across the rename boundary sees each era's name.
    Raises if ``old`` is absent or ``new`` already exists at the branch
    head (Nessie's conflict rules).

    Dependent views: a stored view whose SQL references
    ``old`` would keep resolving at pre-rename refs but dangle at head
    (unresolved relation at execution time, far from the rename). The
    rename therefore RAISES, naming the dependent views, unless
    ``force=True`` — in which case the views dangle at head by design
    (they still resolve at every pre-rename version/tag, which is what
    m58 pins; re-point them with ``ws_create_view(replace=True)``)."""
    if old == new:
        raise ValueError("rename to the same name")

    def plan(log, parent_v):
        by_v = {e["version"]: e for e in log}
        paths = _resolve_table(log, old, parent_v)
        if paths is None:
            raise ValueError(
                f"table {old!r} does not exist at v{parent_v}"
            )
        if _resolve_table(log, new, parent_v) is not None:
            raise ValueError(
                f"table {new!r} already exists at v{parent_v}"
            )
        if not force:
            pat = re.compile(rf"\b{re.escape(old)}\b")
            dangling = sorted(
                vn
                for vn, sql in _resolve_views(log, parent_v).items()
                if pat.search(sql)
            )
            if dangling:
                raise ValueError(
                    f"renaming {old!r} would dangle dependent "
                    f"view(s) {dangling}; drop/re-point them first "
                    "or pass force=True (detection is a conservative "
                    "word match over the view SQL — a view that only "
                    "mentions the name in a string literal or as a "
                    "column name false-positives here; ADVICE r15)"
                )
        moved: dict = {"set": paths}
        layout = _table_layout(by_v, parent_v, old)
        if layout != "unknown":
            moved["partition_by"] = layout
        return {old: {"set": []}, new: moved}, None

    return _ws_meta_commit(ws_path, branch, ts_ms, plan)


def _resolve_views(
    log: list[dict], version: int | None = None
) -> dict[str, str]:
    """The full ``{view_name: sql}`` map at a workspace version: walk
    the version's lineage, first touch per name wins (a later CREATE OR
    REPLACE shadows, a drop tombstone hides)."""
    if not log:
        return {}
    by_v = {e["version"]: e for e in log}
    if version is None:
        version = log[-1]["version"]
    elif version not in by_v:
        raise ValueError(
            f"version {version} not found (have {sorted(by_v)})"
        )
    out: dict[str, str] = {}
    seen: set[str] = set()
    for v in _ancestry(by_v, version):
        for name, spec in by_v[v].get("views", {}).items():
            if name in seen:
                continue
            seen.add(name)
            if "sql" in spec:
                out[name] = spec["sql"]
    return out


def ws_create_view(
    ws_path: str,
    name: str,
    sql: str,
    branch: str = "main",
    replace: bool = False,
    ts_ms: int | None = None,
) -> int:
    """CREATE [OR REPLACE] VIEW as a metadata-only workspace commit:
    the SQL text is VERSIONED in the log, so a view read at a tag runs
    the definition as of that tag against the tables as of that tag —
    Nessie's named-view endpoints emulated. The name must not collide
    with a live table (reads register tables by name)."""

    def plan(log, parent_v):
        if _resolve_table(log, name, parent_v) is not None:
            raise ValueError(
                f"{name!r} is a table at v{parent_v}; views and tables "
                "share the name space"
            )
        if not replace and name in _resolve_views(log, parent_v):
            raise ValueError(
                f"view {name!r} already exists (pass replace=True)"
            )
        return {}, {name: {"sql": sql}}

    return _ws_meta_commit(ws_path, branch, ts_ms, plan)


def ws_drop_view(
    ws_path: str, name: str, branch: str = "main",
    ts_ms: int | None = None,
) -> int:
    """DROP VIEW: a drop tombstone in one metadata-only commit. Earlier
    versions/tags still resolve the view (same preservation rule as
    every other workspace op)."""

    def plan(log, parent_v):
        if name not in _resolve_views(log, parent_v):
            raise ValueError(f"view {name!r} does not exist")
        return {}, {name: {"drop": True}}

    return _ws_meta_commit(ws_path, branch, ts_ms, plan)


def ws_list_views(
    ws_path: str, version: int | None = None, ref: str | None = None
) -> dict[str, str]:
    """``{name: sql}`` for every view live at the version/ref (default:
    main head)."""
    if ref is not None:
        if version is not None:
            raise ValueError("pass version or ref, not both")
        version = ws_resolve_ref(ws_path, ref)
    log = _read_log(ws_path)
    if version is None and "main" in _read_refs(ws_path)["branches"]:
        version = ws_resolve_ref(ws_path, "main")
    return _resolve_views(log, version)


def ws_read_view(
    spark: SparkSession,
    ws_path: str,
    name: str,
    version: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Execute a named view at a workspace version/ref: every table
    live at that version registers as a session temp view under its
    own name (the same session-global registration ``tables.py``'s
    view surface uses), then the stored SQL runs — so the view text,
    the table set, AND the table contents all come from ONE workspace
    version; two view reads at one tag are mutually consistent exactly
    like two ``ws_read`` calls. Lazy: returns the composed DataFrame,
    nothing is collected here."""
    if ref is not None:
        if version is not None:
            raise ValueError("pass version or ref, not both")
        version = ws_resolve_ref(ws_path, ref)
    log = _read_log(ws_path)
    if version is None and "main" in _read_refs(ws_path)["branches"]:
        version = ws_resolve_ref(ws_path, "main")
    views = _resolve_views(log, version)
    if name not in views:
        at = version if version is not None else (
            log[-1]["version"] if log else "?"
        )
        raise ValueError(f"view {name!r} does not exist at v{at}")
    # Transient registrations: spark.sql resolves the view text against
    # the temp views eagerly at analysis time, so they are dropped before
    # returning — leaving them registered made a LATER read at a different
    # version silently resolve a stale table snapshot instead of failing
    # (e.g. a renamed-away table kept "existing" session-wide after any
    # earlier view read). The analyzed plan is bound to the resolved file
    # scans, so the returned frame survives the drops.
    # Pre-existing session temp views sharing a table's name are
    # captured and RE-REGISTERED after the transient drop (the
    # drop otherwise silently destroys caller session state; the
    # captured frame's analyzed plan survives the round trip).
    created: list[str] = []
    saved: dict[str, DataFrame] = {}
    try:
        for t in ws_list_tables(ws_path, version):
            try:
                tbl = spark.catalog.getTable(t)
                if (tbl.tableType or "").upper() == "TEMPORARY":
                    saved[t] = spark.table(t)
            except Exception:
                pass  # no such table/view — nothing to preserve
            ws_read(
                spark, ws_path, t, version=version
            ).createOrReplaceTempView(t)
            created.append(t)
        return spark.sql(views[name])
    finally:
        for t in created:
            spark.catalog.dropTempView(t)
        for t, pre in saved.items():
            pre.createOrReplaceTempView(t)
