"""Commit points, deletion policies, snapshots, and the file deleter.

Reference surfaces (clt/index/, 1-line stubs; Lucene 9 semantics):
  index_commit.rs                     — IndexCommit (generation, file names,
                                        user data, delete())
  index_deletion_policy.rs            — on_init/on_commit hook deciding which
                                        commit points survive
  keep_only_last_commit_deletion_policy.rs / no_deletion_policy.rs
  snapshot_deletion_policy.rs         — snapshot() pins a commit against the
                                        wrapped primary policy; release() unpins
  persistent_snapshot_deletion_policy.rs — snapshots survive process restart
  index_file_deleter.rs               — refcounts files across retained
                                        commits; physically deletes only what
                                        NO retained commit references

Spark mapping: a commit point is `commits/segments_<gen>.json`
(index/manifest.py) carrying the exact parquet-file snapshot of every store
dir plus the tombstone-dir list at commit time. Store dirs only grow, so
file-level refcounting degenerates to set algebra over the stamped lists —
`checkpoint()` deletes (a) dropped commit-point json files and (b) parquet
files / tombstone dirs referenced only by dropped commits. Files never
stamped by any commit (build scaffolding, an in-flight writer's pending
part files) are never touched — the same conservatism as Lucene's
IndexFileDeleter incref-at-commit rule.

One Spark-specific caveat, documented rather than hidden: unlike Lucene's
POSIX open-file semantics, a pinned PySpark searcher re-opens parquet files
per job, so the policy must keep every generation a live reader still
pins — pass `protected_generations` (SearcherManager.pinned_generations()
or SearcherLifetimeManager.recorded_generations()) to checkpoint().
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

from lucene_rust_spark.index.manifest import (
    COMMITS_DIR,
    COMMIT_PREFIX,
    PENDING_PREFIX,
    commit_manifest,
    list_commit_generations,
    read_commit,
    read_manifest,
    store_dirs,
)


@dataclass
class IndexCommit:
    """One retained commit point (clt/index/index_commit.rs). A deletion
    policy marks it with delete(); the IndexFileDeleter acts on the marks.
    The live (latest) commit is never deletable — Lucene's invariant."""

    index_dir: str
    generation: int
    manifest: dict
    is_latest: bool = False
    _deleted: bool = field(default=False, repr=False)

    def file_names(self) -> list[str]:
        """Exact relative file/dir set this commit references
        (IndexCommit.getFileNames): stamped parquet files + tombstone
        generation dirs + its own commit-point json."""
        out: list[str] = []
        for files in (self.manifest.get("store_files") or {}).values():
            out.extend(files)
        out.extend(self.manifest.get("tombstone_dirs") or ())
        return sorted(set(out))

    @property
    def user_data(self) -> dict:
        """Opaque application payload stored with the commit
        (IndexWriter.setLiveCommitData analog — writers put a `user_data`
        key in the manifest they commit)."""
        return dict(self.manifest.get("user_data") or {})

    @property
    def segment_count(self) -> int:
        return len(self.manifest.get("segments") or ())

    def delete(self) -> None:
        if self.is_latest:
            raise ValueError("the latest commit point cannot be deleted")
        self._deleted = True

    @property
    def is_deleted(self) -> bool:
        return self._deleted


def list_commits(index_dir: str) -> list[IndexCommit]:
    """Ascending retained commit points (DirectoryReader.listCommits)."""
    gens = list_commit_generations(index_dir)
    live = read_manifest(index_dir) or {}
    live_gen = int(live.get("generation", -1))
    out = []
    for g in gens:
        m = read_commit(index_dir, g)
        if m is not None:
            out.append(IndexCommit(index_dir, g, m, is_latest=(g == live_gen)))
    return out


class IndexDeletionPolicy:
    """Base policy (clt/index/index_deletion_policy.rs): given the
    ascending commit list, mark the ones to drop via commit.delete()."""

    def on_init(self, commits: list[IndexCommit]) -> None:
        self.on_commit(commits)

    def on_commit(self, commits: list[IndexCommit]) -> None:
        raise NotImplementedError


class KeepOnlyLastCommitDeletionPolicy(IndexDeletionPolicy):
    """Lucene's default (keep_only_last_commit_deletion_policy.rs)."""

    def on_commit(self, commits: list[IndexCommit]) -> None:
        for c in commits:
            if not c.is_latest:
                c.delete()


class NoDeletionPolicy(IndexDeletionPolicy):
    """Retain every commit point ever written (no_deletion_policy.rs)."""

    def on_commit(self, commits: list[IndexCommit]) -> None:
        pass


class KeepLastNCommitsDeletionPolicy(IndexDeletionPolicy):
    """Retain the newest N commit points — the common production policy
    for paging consistency windows."""

    def __init__(self, n: int):
        if n < 1:
            raise ValueError("n must be >= 1")
        self.n = int(n)

    def on_commit(self, commits: list[IndexCommit]) -> None:
        for c in commits[: max(0, len(commits) - self.n)]:
            if not c.is_latest:
                c.delete()


class SnapshotDeletionPolicy(IndexDeletionPolicy):
    """Wrap a primary policy; snapshot() pins the latest commit so the
    primary cannot drop it until release() (snapshot_deletion_policy.rs).
    Refcounted: the same generation snapshotted twice needs two releases."""

    def __init__(self, primary: IndexDeletionPolicy | None = None):
        self.primary = primary or KeepOnlyLastCommitDeletionPolicy()
        self._refs: dict[int, int] = {}

    def snapshot(self, index_dir: str) -> IndexCommit:
        commits = list_commits(index_dir)
        if not commits:
            raise FileNotFoundError(f"no commits in {index_dir}")
        latest = commits[-1]
        self._refs[latest.generation] = self._refs.get(latest.generation, 0) + 1
        self._persist()
        return latest

    def release(self, commit_or_gen) -> None:
        gen = int(getattr(commit_or_gen, "generation", commit_or_gen))
        n = self._refs.get(gen, 0)
        if n <= 0:
            raise ValueError(f"generation {gen} is not snapshotted")
        if n == 1:
            del self._refs[gen]
        else:
            self._refs[gen] = n - 1
        self._persist()

    def snapshotted_generations(self) -> list[int]:
        return sorted(self._refs)

    def on_commit(self, commits: list[IndexCommit]) -> None:
        pinned = set(self._refs)
        free = [c for c in commits if c.generation not in pinned]
        self.primary.on_commit(free)

    def _persist(self) -> None:  # overridden by the persistent variant
        pass


class PersistentSnapshotDeletionPolicy(SnapshotDeletionPolicy):
    """Snapshots survive restarts: refcounts live in
    commits/snapshots.json, written atomically
    (persistent_snapshot_deletion_policy.rs)."""

    def __init__(self, index_dir: str, primary: IndexDeletionPolicy | None = None):
        super().__init__(primary)
        self.index_dir = index_dir
        self._path = os.path.join(index_dir, COMMITS_DIR, "snapshots.json")
        if os.path.exists(self._path):
            with open(self._path) as f:
                self._refs = {int(k): int(v) for k, v in json.load(f).items()}

    def snapshot(self, index_dir: str | None = None) -> IndexCommit:
        return super().snapshot(index_dir or self.index_dir)

    def _persist(self) -> None:
        os.makedirs(os.path.dirname(self._path), exist_ok=True)
        tmp = self._path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({str(k): v for k, v in self._refs.items()}, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._path)


class IndexFileDeleter:
    """Refcounting cleanup (clt/index/index_file_deleter.rs). Call
    checkpoint() after commits (or periodically): the policy marks commit
    points, then files referenced ONLY by dropped commits are deleted.

    protected_generations: generations a live reader still pins (Spark
    re-opens files per job — see module docstring); they survive the
    policy regardless of its verdict."""

    def __init__(self, index_dir: str, policy: IndexDeletionPolicy | None = None):
        self.index_dir = index_dir
        self.policy = policy or KeepOnlyLastCommitDeletionPolicy()

    def checkpoint(self, protected_generations=()) -> dict:
        commits = list_commits(self.index_dir)
        if not commits:
            return {"dropped_commits": [], "deleted_files": [], "deleted_dirs": []}
        self.policy.on_commit(commits)
        protected = {int(g) for g in protected_generations}
        dropped = [
            c for c in commits if c.is_deleted and c.generation not in protected
        ]
        retained = [c for c in commits if c not in dropped]
        keep_files: set[str] = set()
        keep_dirs: set[str] = set()
        for c in retained:
            keep_files.update(c.file_names())
            # whole store dirs referenced by a retained commit stay even
            # where a legacy manifest carries no per-file stamp
            keep_dirs.update(store_dirs(c.manifest).values())
        deleted_files: list[str] = []
        deleted_dirs: list[str] = []
        for c in dropped:
            for rel in c.file_names():
                if rel in keep_files:
                    continue
                path = os.path.join(self.index_dir, rel)
                top = rel.split("/", 1)[0].split(os.sep, 1)[0]
                if not os.path.exists(path):
                    continue
                if os.path.isdir(path):
                    # a tombstone generation dir
                    shutil.rmtree(path, ignore_errors=True)
                    deleted_dirs.append(rel)
                else:
                    if top in keep_dirs and not rel.endswith(".parquet"):
                        continue
                    os.remove(path)
                    deleted_files.append(rel)
                keep_files.add(rel)  # delete once
            cpath = os.path.join(
                self.index_dir, COMMITS_DIR, f"{COMMIT_PREFIX}{c.generation}.json"
            )
            if os.path.exists(cpath):
                os.remove(cpath)
        # prune store dirs emptied entirely (a dropped merge generation)
        for c in dropped:
            for d in store_dirs(c.manifest).values():
                if d in keep_dirs:
                    continue
                path = os.path.join(self.index_dir, d)
                if os.path.isdir(path) and not any(
                    f.endswith(".parquet")
                    for _, _, fs in os.walk(path)
                    for f in fs
                ):
                    shutil.rmtree(path, ignore_errors=True)
                    deleted_dirs.append(d)
                    keep_dirs.add(d)
        return {
            "dropped_commits": sorted(c.generation for c in dropped),
            "deleted_files": sorted(set(deleted_files)),
            "deleted_dirs": sorted(set(deleted_dirs)),
        }


def set_live_commit_data(index_dir: str, data: dict) -> dict:
    """IndexWriter.setLiveCommitData + commit: publish a new generation
    whose only change is the opaque `user_data` payload (read back via
    IndexCommit.user_data). Pure metadata — no store file changes."""
    m = read_manifest(index_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {index_dir}")
    manifest = dict(m)
    manifest["user_data"] = {str(k): str(v) for k, v in dict(data).items()}
    manifest["generation"] = int(m["generation"]) + 1
    manifest["metrics"] = {"op": "user_data"}
    commit_manifest(index_dir, manifest)
    return manifest


def rollback_uncommitted(index_dir: str) -> dict:
    """IndexWriter.rollback analog for a crashed/abandoned writer: drop
    everything no COMMITTED generation references —
      * pending (prepared-but-unpublished) manifests,
      * orphan commit-point jsons newer than the live generation
        (a crash between finish_commit's two renames),
      * parquet part files inside the live commit's store dirs that no
        retained commit stamps (a half-written build group or append),
      * tombstone generation dirs no retained commit stamps,
      * terms_partial groups that belong to no committed segment group
        (a crashed append's partials would silently inflate df/ttf in
        every FUTURE append's terms-dict rebuild).
    Never touches files referenced by any retained commit, and never
    touches non-live store generations (that cleanup is the deletion
    policy's job — IndexFileDeleter.checkpoint)."""
    live = read_manifest(index_dir)
    if live is None:
        raise FileNotFoundError(f"no manifest in {index_dir}")
    live_gen = int(live["generation"])
    commits = list_commits(index_dir)
    keep_files: set[str] = set()
    committed_groups: set[int] = set()
    for c in commits:
        if c.generation <= live_gen:
            keep_files.update(c.file_names())
            committed_groups.update(
                int(s.get("group", 0)) for s in (c.manifest.get("segments") or ())
            )
    removed: dict[str, list[str]] = {
        "pending": [], "orphan_commits": [], "files": [], "dirs": []
    }
    import glob as _glob

    for p in _glob.glob(os.path.join(index_dir, f"{PENDING_PREFIX}*")):
        os.remove(p)
        removed["pending"].append(os.path.basename(p))
    for p in _glob.glob(
        os.path.join(index_dir, COMMITS_DIR, f"{COMMIT_PREFIX}*.json")
    ):
        stem = os.path.basename(p)[len(COMMIT_PREFIX):-len(".json")]
        if stem.isdigit() and int(stem) > live_gen:
            os.remove(p)
            removed["orphan_commits"].append(os.path.basename(p))
    if "store_files" in live:  # stamped manifests only — never guess
        for dirname in store_dirs(live).values():
            root = os.path.join(index_dir, dirname)
            for p in _glob.glob(
                os.path.join(root, "**", "*.parquet"), recursive=True
            ):
                rel = os.path.relpath(p, index_dir)
                if rel not in keep_files:
                    os.remove(p)
                    removed["files"].append(rel)
        for pat in ("tombstones", "soft_tombstones"):
            for d in _glob.glob(os.path.join(index_dir, pat, "gen=*")):
                rel = os.path.relpath(d, index_dir)
                if rel not in keep_files:
                    shutil.rmtree(d, ignore_errors=True)
                    removed["dirs"].append(rel)
    for d in _glob.glob(os.path.join(index_dir, "terms_partial", "group=*")):
        g = os.path.basename(d).split("=", 1)[1]
        if g.isdigit() and int(g) not in committed_groups:
            shutil.rmtree(d, ignore_errors=True)
            removed["dirs"].append(os.path.relpath(d, index_dir))
    return removed


def check_commits(index_dir: str) -> dict:
    """CheckIndex extension for the commit machinery: every retained
    commit point parses, is internally consistent, and every file it
    stamps EXISTS (a missing stamped file means the deletion policy or a
    manual cleanup broke a commit that claims to be openable); pending
    manifests and orphan commit jsons are surfaced (rollback_uncommitted
    fodder, not corruption); persistent snapshots reference retained
    generations only. Raises AssertionError on real corruption; returns
    the checked facts."""
    import glob as _glob

    live = read_manifest(index_dir)
    assert live is not None, f"no manifest in {index_dir}"
    live_gen = int(live["generation"])
    commits = list_commits(index_dir)
    gens = [c.generation for c in commits]
    assert gens == sorted(gens), f"commit generations out of order: {gens}"
    assert live_gen in gens, (
        f"live generation {live_gen} has no retained commit point"
    )
    missing: dict[int, list[str]] = {}
    for c in commits:
        if c.generation > live_gen:
            continue  # orphan from a crashed finish_commit — reported below
        assert int(c.manifest["generation"]) == c.generation
        lost = [
            rel
            for rel in c.file_names()
            if not os.path.exists(os.path.join(index_dir, rel))
        ]
        if lost:
            missing[c.generation] = lost
    assert not missing, f"retained commits stamp missing files: {missing}"
    pending = sorted(
        os.path.basename(p)
        for p in _glob.glob(os.path.join(index_dir, f"{PENDING_PREFIX}*"))
    )
    orphans = sorted(g for g in gens if g > live_gen)
    snap_path = os.path.join(index_dir, COMMITS_DIR, "snapshots.json")
    snapshotted: list[int] = []
    if os.path.exists(snap_path):
        with open(snap_path) as f:
            refs = {int(k): int(v) for k, v in json.load(f).items()}
        assert all(v > 0 for v in refs.values()), f"non-positive snapshot refs: {refs}"
        dangling = sorted(g for g in refs if g not in gens)
        assert not dangling, f"snapshots pin unretained generations: {dangling}"
        snapshotted = sorted(refs)
    return {
        "live_generation": live_gen,
        "retained_generations": gens,
        "pending_manifests": pending,
        "orphan_commit_points": orphans,
        "snapshotted_generations": snapshotted,
    }
