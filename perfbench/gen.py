"""Seeded input generator for the benchmark.

Turns are derived from the bundled `events` table with the program's own
transcript derivation (`Transcripts.derivationCte`, exported verbatim at
build time). That SQL text is the one the program runs in Spark and the
DuckDB oracles run too, so the grammar ParseTurn parses is unchanged. The
base turns are replicated under fresh conv_ids. The seed decides:

  - which replicas share a JSON file (files hold whole replicas, in seeded
    order);
  - which few conversations are hot: all replicas of a hot conversation keep
    one conv_id, which skews render's range sort;
  - which turns of `resume` arrive one slice late.

Every generated turn gets a distinct whole-second ts, replica-major, so
time-ordered slices never split a ts value and JSON carries it exactly.
Outputs are cached under a content fingerprint; the program only ever sees
the generated files, and generation is never timed.
"""
import hashlib
import json
import os
import random
import shutil

import duckdb

VERSION = "gen-v2"  # part of the fingerprint: bump when the logic changes
HOT_CONVS = 2
LATE_EVERY = 100  # ~1% of eligible resume turns arrive one slice late
T0 = "TIMESTAMP '2024-01-01 00:00:00'"
COLUMNS = "conv_id, turn_idx, role, text, tool, ts"


def _fingerprint(texts, data_dir, *parts):
    h = hashlib.sha256()
    h.update(texts["derivation_cte"].encode())
    with open(os.path.join(data_dir, "events.parquet"), "rb") as fh:
        h.update(fh.read())
    h.update("|".join(map(str, (VERSION,) + parts)).encode())
    return h.hexdigest()[:20]


def _turns(con, texts, data_dir, n, seed):
    """Table `gen`: n replicated turns with their ordinal and seeded file key."""
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, 'events.parquet')}')")
    con.execute(f"CREATE OR REPLACE TABLE base AS WITH {texts['derivation_cte']} "
                "SELECT *, row_number() OVER (ORDER BY ts, conv_id, turn_idx) - 1 AS b "
                "FROM transcripts")
    nb = con.sql("SELECT count(*) FROM base").fetchone()[0]
    convs = sorted(r[0] for r in con.sql("SELECT DISTINCT conv_id FROM base").fetchall())
    hot = random.Random(seed).sample(convs, HOT_CONVS)
    reps = -(-n // nb)
    hot_list = ", ".join(f"'{c}'" for c in hot)
    con.execute(f"""
        CREATE OR REPLACE TABLE gen AS
        SELECT CASE WHEN conv_id IN ({hot_list}) THEN conv_id || '#hot'
                    ELSE conv_id || '#' || CAST(rep AS VARCHAR) END AS conv_id,
               CAST(CASE WHEN conv_id IN ({hot_list}) THEN turn_idx + rep * 10000
                         ELSE turn_idx END AS INTEGER) AS turn_idx,
               role, text, tool,
               {T0} + to_seconds(rep * {nb} + b) AS ts,
               rep * {nb} + b AS ord,
               hash({seed}, rep) AS fkey
        FROM base, range({reps}) r(rep)
        WHERE rep * {nb} + b < {n}""")
    return hot


def _files(con, files):
    """File number per turn: equal-sized files of whole replicas, seeded order."""
    con.execute(f"""CREATE OR REPLACE TABLE placed AS
        SELECT *, CAST((row_number() OVER (ORDER BY fkey, ord) - 1) * {files}
                       // count(*) OVER () AS INTEGER) AS file FROM gen""")


def _cached(cache, kind, fp, make):
    d = os.path.join(cache, f"{kind}-{fp}")
    done = os.path.join(d, "_GEN_DONE")
    if not (os.path.exists(done) and open(done).read() == fp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        meta = make(d)
        with open(os.path.join(d, "manifest.json"), "w") as fh:
            json.dump(meta, fh)
        with open(done, "w") as fh:
            fh.write(fp)
    else:
        os.utime(d)  # most recently used, for pruning
    with open(os.path.join(d, "manifest.json")) as fh:
        return d, json.load(fh)


def json_turns(texts, data_dir, cache, n, seed, files):
    """`files` JSON-lines files under <dir>/data, ts in Spark's JSON format."""
    def make(d):
        con = duckdb.connect()
        hot = _turns(con, texts, data_dir, n, seed)
        _files(con, files)
        os.makedirs(os.path.join(d, "data"))
        for f in range(files):
            con.execute(f"""COPY (SELECT conv_id, turn_idx, role, text, tool,
                                   strftime(ts, '%Y-%m-%dT%H:%M:%S.000Z') AS ts
                                 FROM placed WHERE file = {f} ORDER BY ord)
                            TO '{d}/data/part-{f:05d}.json' (FORMAT JSON)""")
        return {"turns": n, "files": files, "hot_convs": hot}
    return _cached(cache, "turns-json", _fingerprint(texts, data_dir, "json", n, seed, files), make)


def sliced_turns(texts, data_dir, cache, n, seed, slices):
    """`slices` time-ordered slices under <dir>/slices/s=N, one file each.

    A seeded ~1% of the turns in the first 90% of every slice but the last
    is delivered with the next slice instead; those turns are listed in
    <dir>/late.parquet, which the program never reads. Keeping late turns
    away from the end of their slice means an on-time turn of the same
    slice always carries a later ts, so every late turn is at or below the
    watermark committed before it arrives.
    """
    def make(d):
        con = duckdb.connect()
        hot = _turns(con, texts, data_dir, n, seed)
        per = -(-n // slices)
        con.execute(f"""CREATE OR REPLACE TABLE sliced AS
            SELECT *, CAST(ord // {per} AS INTEGER) AS slice,
                   (ord // {per} < {slices - 1} AND ord % {per} < {per * 9 // 10}
                    AND hash({seed}, ord) % {LATE_EVERY} = 0) AS late
            FROM gen""")
        rows = []
        for s in range(slices):
            sd = os.path.join(d, "slices", f"s={s}")
            os.makedirs(sd)
            con.execute(f"""COPY (SELECT {COLUMNS} FROM sliced
                                 WHERE slice + CAST(late AS INTEGER) = {s} ORDER BY ord)
                            TO '{sd}/part-00000.parquet' (FORMAT PARQUET)""")
            rows.append(con.sql(f"SELECT count(*) FROM sliced "
                                f"WHERE slice + CAST(late AS INTEGER) = {s}").fetchone()[0])
        con.execute(f"COPY (SELECT conv_id, turn_idx FROM sliced WHERE late) "
                    f"TO '{d}/late.parquet' (FORMAT PARQUET)")
        late = con.sql("SELECT count(*) FROM sliced WHERE late").fetchone()[0]
        return {"turns": n, "files": slices, "slice_rows": rows, "late_turns": late,
                "hot_convs": hot}
    return _cached(cache, "turns-sliced", _fingerprint(texts, data_dir, "sliced", n, seed, slices),
                   make)

