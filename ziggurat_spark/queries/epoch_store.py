"""One store for fold state: per-batch runs, folded epochs, bucket
versions, and the manifest that commits them.

A streaming fold writes one *run* per micro-batch and state *kind*
(``bands``, ``pairs``, ``part``, ...) and folds committed runs into
*epochs*, so state stays bounded over an unbounded stream.
``manifest.json`` plays a changelog's role (Kafka Streams restores a
store from its changelog; Ziggurat commits each processed batch and
re-delivers only what is uncommitted, R6, consumer_handler.clj:75-90):
it lists every live dir and the op's metadata. The contract:

- **Only strictly-older runs fold.** A checkpointed stream re-delivers
  only its newest batch, so ``fold(current_bid, ...)`` never touches a
  run at or after ``current_bid``; a re-delivered batch finds its own
  runs still keyed and replaces them by commit.
- **Commit happens before delete.** A run write or fold event writes
  its new dirs, commits the manifest through a temp file and
  ``os.replace``, and only then deletes what the commit superseded, so
  after a crash at any point each committed row is live exactly once.
  Under the sketch policy a trigger's run write and its fold are one
  step (``write_runs`` with epoch writers): the run reads only the
  micro-batch and the epoch only strictly-older committed dirs, so
  both writes overlap and one commit lands the run and the epoch.
- **Open removes unlisted dirs.** ``seq``, the live dirs and the
  metadata come from the manifest; every other entry under the root
  (a torn write, an uncommitted epoch, a half-done delete) is removed,
  idempotently.

Bucketed state (the LWW merges, the budget fold, the IVF serving
index) is not batch-keyed: ``write_buckets`` writes one fresh
*version* dir partitioned by ``kb`` (listed as a run keyed by its
``seq``), points every bucket it touched at
that version's ``kb=`` subdir, commits the bucket map as the store's
metadata, and only then deletes each version no live bucket still
references. Untouched buckets carry over by reference, a re-delivered
batch reads the version it last wrote and commits a new one beside it,
and a fresh process resumes from the committed map.

Single-version state (the sample and HLL sketches) is one run per
trigger, committed while every other batch's run is dropped.

``seq`` is also the arrival-order stamp of last-write-wins state: a
fold stamps the rows it merges with the target store's committed
``seq``, read as it builds the frame. Every write raises ``seq``
before its commit and a reopen restores it from the manifest, so a
stamp read before a commit is below every stamp read after it, in any
process: a re-delivered batch outranks the rows it replaces, and
every later batch outranks it.

Each dir gets a fresh name, ``{kind}_b{bid}_{seq}`` for a run,
``{kind}_L{level}_{seq}`` for an epoch and ``kb_v_{seq}`` for a bucket
version, so nothing is overwritten in place. The store owns its root:
nothing else may write there, and one thread at a time writes it.
A fold's background writes end inside its ``Scope`` (scratch.py),
on failure as on success, so a restart that re-delivers a failed
batch is the store's only writer.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import partial

from ziggurat_spark.scratch import Scope

MANIFEST = "manifest.json"


def _remove(path: str) -> None:
    """Delete a superseded or unlisted entry; a failure raises (after
    the commit that superseded it, so state stays correct and the next
    open retries the delete)."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)


def overlap(calls: list) -> None:
    """Run the run or epoch writes in ``calls``, two at a time when
    there are several (they read the micro-batch frame, persisted
    blocks or committed dirs, and land in disjoint dirs, so a later
    write back-fills the first one's task tail). Returns only after
    every call ended; the first failure raises. Ops whose runs are
    written outside ``write_runs`` use it too, then commit through
    ``commit_runs``."""
    if len(calls) == 1:
        calls[0]()
        return
    with Scope() as sc:
        for c in calls:
            sc.submit(c)


class EpochStore:
    """Batch-keyed runs and folded epochs, or bucket versions, under
    ``root``, committed through ``root/manifest.json`` (see the module
    docstring)."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)
        try:
            with open(os.path.join(root, MANIFEST)) as fh:
                m = json.load(fh)
        except FileNotFoundError:
            m = {"seq": 0, "runs": {}, "epochs": [], "meta": {}}
        self.seq = m["seq"]
        #: bid -> {kind: dir name}
        self._runs = {int(b): g for b, g in m["runs"].items()}
        #: [(level, {kind: dir name})], oldest first
        self._epochs = [(lv, g) for lv, g in m["epochs"]]
        #: the op's own committed metadata (a JSON object)
        self.meta = m["meta"]
        listed = {
            n
            for g in [*self._runs.values(), *(g for _l, g in self._epochs)]
            for n in g.values()
        }
        for name in os.listdir(root):
            if name != MANIFEST and name not in listed:
                _remove(os.path.join(root, name))

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _fresh(self, kind: str, tag: str) -> str:
        self.seq += 1
        return self._path(f"{kind}_{tag}_{self.seq:06d}")

    def _commit(
        self, runs: dict, epochs: list, meta: dict, doomed: list
    ) -> None:
        """Make ``runs``, ``epochs`` and ``meta`` the committed state,
        then delete the ``doomed`` dir names it superseded."""
        tmp = self._path(MANIFEST + ".tmp")
        m = {"seq": self.seq, "runs": runs, "epochs": epochs, "meta": meta}
        with open(tmp, "w") as fh:
            json.dump(m, fh)
        os.replace(tmp, self._path(MANIFEST))
        self._runs, self._epochs, self.meta = runs, epochs, meta
        for name in doomed:
            _remove(self._path(name))

    def live(self, kind: str, skip: int | None = None) -> list[str]:
        """The committed dirs of ``kind``: epochs oldest first, then
        runs in batch order, leaving out batch ``skip``'s run."""
        names = [g[kind] for _lv, g in self._epochs if kind in g]
        names += [
            g[kind]
            for b, g in sorted(self._runs.items())
            if kind in g and b != skip
        ]
        return [self._path(n) for n in names]

    def runs(self, kind: str) -> dict[int, str]:
        """bid -> committed run dir of ``kind``."""
        return {
            b: self._path(g[kind])
            for b, g in sorted(self._runs.items())
            if kind in g
        }

    def buckets(self) -> dict[int, str]:
        """bucket -> its live dir, as the last write_buckets committed
        it."""
        return {
            int(b): self._path(d)
            for b, d in self.meta.get("buckets", {}).items()
        }

    def write_buckets(self, write, touched, meta=None) -> None:
        """Write one version of bucketed state: ``write(path)`` writes
        a fresh dir partitioned by ``kb``; each bucket in ``touched``
        then points at its ``kb=`` subdir, or is emptied when the write
        left none. The bucket map commits as metadata, with ``meta``
        (the op's own entries, when given) merged in; then every
        version no live bucket references is deleted."""
        path = self._fresh("kb", "v")
        version = self.seq
        write(path)
        name = os.path.basename(path)
        buckets = dict(self.meta.get("buckets", {}))
        for b in touched:
            if os.path.isdir(os.path.join(path, f"kb={b}")):
                buckets[str(b)] = f"{name}/kb={b}"
            else:
                buckets.pop(str(b), None)
        refs = {d.split("/", 1)[0] for d in buckets.values()}
        versions = {**self._runs, version: {"kb": name}}
        self.commit_runs(
            version,
            {"kb": path},
            meta={**self.meta, **(meta or {}), "buckets": buckets},
            drop=[v for v, g in versions.items() if g["kb"] not in refs],
        )

    def run_path(self, kind: str, bid: int) -> str:
        """A fresh dir for batch ``bid``'s run of ``kind``; it becomes
        state only when commit_runs lists it."""
        return self._fresh(kind, f"b{bid}")

    def commit_runs(self, bid: int, paths: dict, *, meta=None, drop=()):
        """Commit batch ``bid``'s written runs (kind -> dir from
        run_path), replacing the runs of those kinds the batch already
        had, together with the batches in ``drop`` (removed) and
        ``meta`` (when given); then delete what the commit superseded."""
        runs, doomed = _with_run(self._runs, bid, paths, drop)
        self._commit(
            runs, self._epochs, self.meta if meta is None else meta, doomed
        )

    def write_runs(
        self, bid: int, writers: dict, epoch: dict | None = None
    ) -> None:
        """Write batch ``bid``'s run of every kind in ``writers`` (kind
        -> ``fn(path)``), overlapped on the 2-worker pool, and commit
        them together. ``epoch`` (the sketch policy's epoch writers,
        as ``fold`` takes them) makes this the trigger's fold too:
        every run strictly older than ``bid`` plus the standing epochs
        fold into one level-1 epoch on the same pool, and one commit
        adds the run and replaces the folded dirs with the epoch."""
        paths = {k: self.run_path(k, bid) for k in writers}
        calls = [partial(w, paths[k]) for k, w in writers.items()]
        runs, epochs, doomed = self._runs, self._epochs, []
        olds = [b for b in sorted(self._runs) if b < bid]
        if epoch is not None and olds:
            more, runs, epochs, doomed, _ev = self._fold_plan(
                1, olds, list(self._epochs), epoch
            )
            calls += more
        overlap(calls)
        runs, replaced = _with_run(runs, bid, paths)
        self._commit(runs, epochs, self.meta, doomed + replaced)

    def fold(
        self, current_bid: int, writers: dict, cadence: int | None = None
    ) -> list[dict]:
        """Fold committed runs STRICTLY OLDER than ``current_bid`` into
        epochs. ``writers`` maps every kind the runs hold to an epoch
        writer ``fn(input_dirs, out_path)``; all kinds fold in
        lockstep. ``cadence=None`` (the sketch policy): those runs plus
        every standing epoch become one epoch. ``cadence=K``
        (size-tiered, the LSM construction): while K such runs exist
        the oldest K become one level-1 epoch, and while K epochs of
        level L exist the oldest K become one level-(L+1) epoch — every
        fold reads exactly K inputs of one level, so a row is rewritten
        once per level it climbs. Returns one ``{level, inputs}``
        record per fold event (level = the inputs' level, 0 for runs)."""
        olds = [b for b in sorted(self._runs) if b < current_bid]
        if cadence is None:
            if not olds:
                return []
            return [self._fold_event(1, olds, list(self._epochs), writers)]
        events = []
        while len(olds) >= cadence:
            events.append(self._fold_event(1, olds[:cadence], [], writers))
            olds = olds[cadence:]
        level = 1
        while any(lv == level for lv, _g in self._epochs):
            at = [e for e in self._epochs if e[0] == level]
            while len(at) >= cadence:
                events.append(
                    self._fold_event(level + 1, [], at[:cadence], writers)
                )
                at = [e for e in self._epochs if e[0] == level]
            level += 1
        return events

    def _fold_event(
        self, level: int, bids: list, epochs: list, writers: dict
    ) -> dict:
        calls, runs, kept, doomed, event = self._fold_plan(
            level, bids, epochs, writers
        )
        overlap(calls)
        self._commit(runs, kept, self.meta, doomed)
        return event

    def _fold_plan(
        self, level: int, bids: list, epochs: list, writers: dict
    ) -> tuple:
        """One fold event of runs ``bids`` and ``epochs`` into a new
        level-``level`` epoch, not yet written: its epoch writes, the
        runs and epochs its commit leaves, the dir names that commit
        supersedes, and its ``{level, inputs}`` record."""
        groups = [g for _lv, g in epochs] + [self._runs[b] for b in bids]
        for g in groups:
            # lockstep: every batch wrote every kind, even empty ones —
            # a missing kind would otherwise drop that kind's rows
            assert set(g) == set(writers), (
                f"epoch store {self.root}: fold writers {sorted(writers)} "
                f"do not match the folded dirs {sorted(g.values())}"
            )
        outs = {k: self._fresh(k, f"L{level}") for k in writers}
        calls = [
            partial(w, [self._path(g[k]) for g in groups], outs[k])
            for k, w in writers.items()
        ]
        runs = {b: g for b, g in self._runs.items() if b not in bids}
        new = (level, {k: os.path.basename(p) for k, p in outs.items()})
        # the new epoch takes its oldest input's place, keeping epochs
        # oldest first (folded runs are newer than every epoch)
        folded = [any(e is x for x in epochs) for e in self._epochs]
        at = folded.index(True) if epochs else len(folded)
        kept = [e for e, f in zip(self._epochs, folded) if not f]
        doomed = [name for g in groups for name in g.values()]
        event = {"level": level - 1, "inputs": len(groups)}
        return calls, runs, kept[:at] + [new] + kept[at:], doomed, event


def _with_run(runs: dict, bid: int, paths: dict, drop=()) -> tuple:
    """``runs`` with batch ``bid``'s runs of the kinds in ``paths``
    (kind -> dir) set and the batches in ``drop`` removed, and the dir
    names that replaces."""
    runs = dict(runs)
    group = dict(runs.get(bid, {}))
    doomed = [group[k] for k in paths if k in group]
    group.update({k: os.path.basename(p) for k, p in paths.items()})
    runs[bid] = group
    for b in drop:
        doomed += runs.pop(b).values()
    return runs, doomed
