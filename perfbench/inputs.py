"""Seeded benchmark inputs: transcript tables written one part at a time.

Every file is produced by ``sources.transcripts.generate_transcripts``
(unique-text mode) and written with pyarrow, one part after another. No
process pool is used, so a part that cannot be built raises instead of
leaving a pool waiting on a dead worker. ``run.py`` builds a table by
running this file as its own process before it imports or times anything::

    python3 perfbench/inputs.py --seed 1 --table daily

so the measured process is in the same state whether or not the inputs
were already on disk.

A seed selects one of ``INPUT_SETS`` input sets (``seed % INPUT_SETS``),
so the same seed always reads the same inputs and a checkout never holds
more than ``INPUT_SETS`` copies. Each workload reads one table of its
input set::

    <work>/inputs/set<k>/daily-<crc>/part-0000{0..3}.parquet   daily_rollup
    <work>/inputs/set<k>/deltas-<crc>/part-0000{0..1}.parquet  table_maint

``<crc>`` hashes the table's size parameters, and a table's ``_DONE`` file
is written last, so a table is reused only when complete and of the same
size. Files of one input set hold disjoint conversation-id ranges.

Every file is fsynced, so no write-back of fresh inputs competes with the
timed ops.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import zlib

import pyarrow.parquet as pq

ROW_GROUP = 32 * 1024
INPUT_SETS = 4
# name -> (files, turns per file, seed salt); bump VERSION when the
# generator call changes
TABLES = {
    "daily": (4, 250_000, 0),
    "deltas": (2, 50_000, 600),
}
VERSION = 3


class Table:
    """One generated table: its files and their turn counts."""

    def __init__(self, set_dir: str, name: str):
        files, per_file, salt = TABLES[name]
        stamp = f"v{VERSION} {name} {files}x{per_file} rg={ROW_GROUP} salt={salt}"
        self.name, self.stamp = name, stamp
        self.dir = os.path.join(set_dir, f"{name}-{zlib.crc32(stamp.encode()):08x}")
        self.files = [os.path.join(self.dir, f"part-{i:05d}.parquet")
                      for i in range(files)]
        self.per_file = per_file
        self.turns = files * per_file

    def check(self) -> None:
        """Confirm every file holds the rows it was made with, from the
        parquet footers alone."""
        for f in self.files:
            got = pq.ParquetFile(f).metadata.num_rows
            if got != self.per_file:
                raise RuntimeError(f"input {f} has {got} rows, expected {self.per_file}")


def _conv_offset(name: str, part: int) -> int:
    """First conversation id of a file: tables and files of one input set
    never share a conversation, as in write_transcripts_parquet."""
    offset = 0
    for other, (files, per_file, _) in TABLES.items():
        convs = max(64, per_file // 100)
        if other == name:
            return offset + part * convs
        offset += files * convs
    raise KeyError(name)


def _write_part(path: str, n_turns: int, seed: int, conv_offset: int) -> None:
    from zetasketch_spark.sources.transcripts import generate_transcripts

    tbl = generate_transcripts(n_turns, seed=seed, n_convs=max(64, n_turns // 100),
                               text_mode="unique", conv_offset=conv_offset)
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp, row_group_size=ROW_GROUP, compression="snappy")
    with open(tmp, "rb") as f:
        os.fsync(f.fileno())
    os.replace(tmp, path)


def table(work: str, seed: int, name: str) -> Table:
    """Table ``name`` of ``seed``'s input set as it is (or will be) laid
    out on disk."""
    return Table(os.path.join(work, "inputs", f"set{seed % INPUT_SETS}"), name)


def ensure_table(work: str, seed: int, name: str) -> Table:
    """Table ``name`` of ``seed``, generated now unless a complete copy of
    the same size is already on disk."""
    tbl = table(work, seed, name)
    set_dir = os.path.dirname(tbl.dir)
    os.makedirs(set_dir, exist_ok=True)
    done = os.path.join(tbl.dir, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            if f.read() == tbl.stamp:
                return tbl
    for other in os.listdir(set_dir):
        if other.startswith(name + "-"):  # this table at another size
            shutil.rmtree(os.path.join(set_dir, other), ignore_errors=True)
    os.makedirs(tbl.dir)
    salt, k = TABLES[name][2], seed % INPUT_SETS
    for i, f in enumerate(tbl.files):
        _write_part(f, tbl.per_file, k * 1009 + salt + i, _conv_offset(name, i))
    with open(done, "w") as f:
        f.write(tbl.stamp)
    return tbl


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Build one seeded input table "
                                "under .perfbench/ (run from the repository root).")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--table", required=True, choices=sorted(TABLES))
    args = p.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    ensure_table(os.path.join(os.getcwd(), ".perfbench"), args.seed, args.table)
    return 0


if __name__ == "__main__":
    sys.exit(main())
