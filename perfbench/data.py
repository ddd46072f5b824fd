"""Seeded benchmark inputs, cached on disk under the checkout.

The transcripts come from the engine's own generator
(``synth.generate_transcripts``), once per checkout: that ``base`` part
needs Spark and does not depend on the seed. Everything ``--seed``
changes is made from it without Spark: the violations planted into the
table (seeded hashes) and the operator-query tables (a seeded NumPy
generator). A cache entry is keyed on the seed where it applies, the
sizes below and a hash of every source file its contents or expected
answers depend on (see :class:`DataCache`), so a change to any of them
never reuses stale data.

The engine only ever sees the written tables; the expected answers the
correctness gates compare against (planted counts, row counts, DuckDB
oracle counts) are computed here, independently of the checks.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

#: conversations in the table (~49k turns: the generator's mean is ~16
#: turns per conversation)
N_CONVS = 3000
#: the generator's seed for the shared base table
BASE_SEED = 0
#: conversation start dates are folded into this many days, so a date
#: partition holds ~4k turns, the size of one of the 730 daily
#: partitions of a 2.83M-turn table from the same generator
DAYS = 12
#: share (%) of conversations sampled into the drift baseline
BASELINE_PCT = 30
#: this share (%) of conversations gets a violation class ...
DIRTY_CONV_PCT = 25
#: ... and this share (%) of the eligible turns in them is corrupted
DIRTY_ROW_PCT = 10

# Operator-query tables, in the shape of the repository's scale-factor 0.1
# test tables (measured there: events 100k rows over 30 days from
# 2024-01-01, 1500 users with 66-99 events each, the five event types
# 20 % each, value exponential with mean 50 at 2 decimals, props
# '{"k": 0..99}'; documents 5000 rows of 10-100 words drawn uniformly
# from the 30 words below, 250 of them (5 %) another document's text
# plus " dup", lang en 41 % and es/zh/de/fr ~15 % each, source
# src<doc_id % 20>, n_chars the text's length).
N_EVENTS = 100_000
N_USERS = 1500
EVENT_DAYS = 30
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VALUE_MEAN = 50.0
N_DOCS = 5000
DOC_WORDS = (10, 100)
NEAR_DUP_PCT = 5
LANGS = (("en", 0.4), ("es", 0.15), ("zh", 0.15), ("de", 0.15), ("fr", 0.15))
N_SOURCES = 20
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

_EPOCH_2024 = 1704067200
_DAY = 86400

#: violation class -> the metric key in ``SuiteRunResult.metrics`` that
#: counts it (row checks: ``__viol_<check_id>``; NULL text: null_rate)
PLANTED = {
    "bad_role": "__viol_role_domain",
    "bad_tool": "__viol_tool_domain",
    "null_text": "text_null_rate__nulls__text",
    "ts_regress": "__viol_ts_monotonic",
    "dup_key": "__viol_unique_key",
}
#: class -> the row or window check that flags its planted rows, one
#: violation row each; quarantine evicts these rows
SINK_CHECKS = {
    "bad_role": "role_domain",
    "bad_tool": "tool_domain",
    "ts_regress": "ts_monotonic",
    "dup_key": "unique_key",
}

TABLE_PROPS = {"license": "CC-BY-4.0", "consistent_timestep_start": "true"}


def _files_hash(root: str, paths) -> str:
    """Hash of the files' paths (relative to ``root``) and contents."""
    h = hashlib.sha256()
    for path in paths:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class DataCache:
    """Cached parts under ``cache_root``: ``base`` (shared by all seeds),
    and one seed's ``tables`` and ``queries``.

    Each part's key hashes the sources its contents and expected answers
    come from: ``base`` every engine source (the generator, the suite and
    the baseline builder) and this file; ``tables`` the ``base`` key, as it
    is made from it; ``queries`` this file, ``__spark_entry__.py`` (the
    DuckDB oracles) and ``workloads.py`` (the query list).

    A part is built once, by :func:`main` in a process of its own (so the
    benchmark process always starts with a cold JVM, cache hit or miss),
    into a temporary directory renamed into place: an interrupted build
    is never reused. ``meta(part)`` returns the part's directory and the
    expected answers recorded while building it.
    """

    PARTS = ("base", "tables", "queries")

    def __init__(self, root: str, cache_root: str, seed: int):
        self.seed = seed
        here = os.path.dirname(os.path.abspath(__file__))
        engine = sorted(glob.glob(os.path.join(root, "mlcast_sourcedata_validator_spark",
                                               "**", "*.py"), recursive=True))
        hb = _files_hash(root, [*engine, os.path.join(here, "data.py")])
        hq = _files_hash(root, [os.path.join(here, "data.py"),
                                os.path.join(here, "workloads.py"),
                                os.path.join(root, "__spark_entry__.py")])
        self.dirs = {
            "base": f"base-c{N_CONVS}-s{BASE_SEED}-d{DAYS}-b{BASELINE_PCT}-{hb}",
            "tables": f"tables-s{seed}-v{DIRTY_CONV_PCT}.{DIRTY_ROW_PCT}-{hb}",
            "queries": f"queries-s{seed}-e{N_EVENTS}.{N_USERS}-d{N_DOCS}-{hq}",
        }
        self.dirs = {k: os.path.join(cache_root, v) for k, v in self.dirs.items()}

    def has(self, part: str) -> bool:
        return os.path.exists(os.path.join(self.dirs[part], "_meta.json"))

    def meta(self, part: str) -> dict:
        with open(os.path.join(self.dirs[part], "_meta.json")) as f:
            meta = json.load(f)
        meta["dir"] = self.dirs[part]
        return meta

    def build(self, part: str, run_dir: str) -> None:
        final = self.dirs[part]
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if part == "base":
            import env

            spark = env.session(run_dir)
            try:
                meta = _build_base(spark, tmp)
            finally:
                spark.stop()
        elif part == "tables":
            meta = _build_tables(self.meta("base")["dir"], tmp, self.seed)
        else:
            meta = _build_queries(tmp, self.seed)
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)


def _build_base(spark, out: str) -> dict:
    """Clean transcripts (one parquet file), the conversations registry
    and a drift baseline from a conversation sample of the same data."""
    from pyspark.sql import functions as F

    from mlcast_sourcedata_validator_spark.operators.drift import build_suite_baseline
    from mlcast_sourcedata_validator_spark.suite import get_suite
    from mlcast_sourcedata_validator_spark.synth import (
        generate_conversations_registry,
        generate_transcripts,
    )

    clean = _fold_days(generate_transcripts(
        spark, n_convs=N_CONVS, seed=BASE_SEED, n_output_partitions=4)).localCheckpoint()
    clean.coalesce(1).write.parquet(os.path.join(out, "clean"))
    generate_conversations_registry(clean, seed=BASE_SEED) \
        .coalesce(1).write.parquet(os.path.join(out, "registry"))
    sample = clean.where(F.pmod(F.xxhash64(F.lit(BASE_SEED), "conv_id"), F.lit(100))
                         < BASELINE_PCT)
    build_suite_baseline(sample, get_suite("transcripts_v1")) \
        .coalesce(1).write.parquet(os.path.join(out, "baseline"))
    return {}


def _build_tables(base: str, out: str, seed: int) -> dict:
    """The base transcripts with this seed's violations planted, written
    date-partitioned (one zstd parquet file per date, the layout the
    suite's storage checks expect), plus the planted keys."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from mlcast_sourcedata_validator_spark.sources.properties import (
        write_table_properties,
    )

    clean = pq.read_table(os.path.join(base, "clean")).to_pandas()
    dirty = _plant(clean, seed)
    dirty["date"] = dirty["ts"].dt.strftime("%Y-%m-%d")
    dirty = dirty.sort_values(["date", "conv_id", "turn_idx"], kind="stable")
    table = os.path.join(out, "table")
    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
                        ("date", pa.string())])
    ds.write_dataset(
        pa.Table.from_pandas(dirty[schema.names], schema=schema, preserve_index=False),
        table, format="parquet", partitioning=["date"], partitioning_flavor="hive",
        file_options=ds.ParquetFileFormat().make_write_options(compression="zstd"),
        basename_template="part-{i}.parquet")
    write_table_properties(table, TABLE_PROPS)
    # both rows of a duplicated key share it, so both are flagged
    keys = dirty.loc[dirty["_cls"].isin(list(SINK_CHECKS)), ["date", "conv_id", "turn_idx"]]
    keys.drop_duplicates().to_parquet(os.path.join(out, "planted_keys.parquet"), index=False)
    counts = pd.crosstab(dirty["date"], dirty["_cls"]).reindex(columns=list(PLANTED),
                                                               fill_value=0)
    rows = dirty.groupby("date").size()
    return {"partitions": {d: {"n_rows": int(rows[d]),
                               "planted": {c: int(counts.at[d, c]) if d in counts.index
                                           else 0 for c in PLANTED}}
                           for d in rows.index}}


def _build_queries(out: str, seed: int) -> dict:
    """``events`` and ``documents`` tables in the testdata schema, and the
    row count of every operator-query's DuckDB oracle over them."""
    import duckdb

    import __spark_entry__ as entry
    from workloads import OperatorQueries

    oracles = dict(entry.oracle_sql())
    oracles.update(entry.extra_oracle_sql())
    _write_events(os.path.join(out, "events.parquet"), seed)
    _write_documents(os.path.join(out, "documents.parquet"), seed)
    con = duckdb.connect()
    try:
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(out, t)}.parquet')")
        counts = {q: len(con.sql(oracles[q]).fetchall()) for q in OperatorQueries.QUERIES}
    finally:
        con.close()
    return {"oracle_rows": counts}


def _fold_days(df):
    """Shift each conversation by whole days so it starts within the first
    ``DAYS`` days: within-conversation gaps, order and hour of day are kept
    exactly; only the calendar day changes."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    start = F.min(F.unix_timestamp("ts")).over(W.partitionBy("conv_id"))
    day = F.floor((start - F.lit(_EPOCH_2024)) / F.lit(_DAY))
    shift = (day - F.pmod(day, F.lit(DAYS))) * F.lit(_DAY)
    return df.withColumn("ts", F.timestamp_seconds(F.unix_timestamp("ts") - shift))


def _hash(seed: int, tag: int, *cols):
    """Deterministic uint64 hash per row of integer columns (SplitMix64
    finalizer; uint64 arithmetic wraps)."""
    import numpy as np

    def mix(x):
        x = x ^ (x >> np.uint64(30))
        x = x * np.uint64(0xBF58476D1CE4E5B9)
        x = x ^ (x >> np.uint64(27))
        x = x * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    h = mix(np.full(len(cols[0]), (seed * 1_000_003 + tag) % 2**64, dtype=np.uint64))
    for c in cols:
        h = mix(h ^ np.asarray(c, dtype=np.uint64))
    return h


def _plant(df, seed: int):
    """Corrupt a hash-chosen share of turns; ``_cls`` names the class.

    A conversation gets at most one class (by conv_id hash), so classes
    never interact, and each class only touches turns where its check
    flags exactly one row per planted turn:

    - bad_role: a user/assistant turn gets role 'operator' (role_domain);
    - bad_tool: a tool turn gets tool 'hammer' (tool_domain);
    - null_text: any turn gets NULL text (text_null_rate);
    - ts_regress: an even turn >= 2 whose predecessor is less than an
      hour older moves one hour back, within its date. The odd
      predecessor is never moved, so the moved turn regresses against
      it, and the predecessor lies between the moved turn's new time and
      its old one, hence on the same date: exactly the moved turn is
      flagged, in a whole-table or a one-date run (ts_monotonic);
    - dup_key: any turn is appended once more (unique_key flags the copy).
    """
    import numpy as np
    import pandas as pd

    classes = list(PLANTED)
    cid = df["conv_id"].str.slice(1).astype("int64").to_numpy()
    turn = df["turn_idx"].to_numpy().astype("int64")
    conv_h = _hash(seed, 1, cid) % np.uint64(100)
    cls_idx = np.where(conv_h < DIRTY_CONV_PCT, conv_h % np.uint64(len(classes)), 99)
    row_hit = _hash(seed, 2, cid, turn) % np.uint64(100) < DIRTY_ROW_PCT
    role, ts = df["role"].to_numpy(), df["ts"]
    hour = pd.Timedelta(hours=1)
    prev_ts = df[["conv_id", "turn_idx"]].merge(
        df[["conv_id", "turn_idx", "ts"]].assign(turn_idx=df["turn_idx"] + 1),
        how="left", on=["conv_id", "turn_idx"])["ts"]
    gap = ts - prev_ts
    eligible = {
        "bad_role": np.isin(role, ["user", "assistant"]),
        "bad_tool": role == "tool",
        "null_text": True,
        "ts_regress": ((turn >= 2) & (turn % 2 == 0)
                       & ((gap >= pd.Timedelta(0)) & (gap < hour)
                          & ((ts - hour).dt.floor("D") == ts.dt.floor("D"))).to_numpy()),
        "dup_key": True,
    }
    cls = np.full(len(df), None, dtype=object)
    for i, c in enumerate(classes):
        cls[(cls_idx == i) & row_hit & eligible[c]] = c
    out = df.assign(_cls=cls)
    is_ = {c: cls == c for c in classes}
    out.loc[is_["bad_role"], "role"] = "operator"
    out.loc[is_["bad_tool"], "tool"] = "hammer"
    out.loc[is_["null_text"], "text"] = None
    out.loc[is_["ts_regress"], "ts"] -= hour
    # the original row of a duplicated key is itself clean
    dups = out[is_["dup_key"]]
    out.loc[is_["dup_key"], "_cls"] = None
    return pd.concat([out, dups], ignore_index=True)


def _write_events(path: str, seed: int) -> None:
    """events(event_id, ts, user_id, event_type, value, props): times
    uniform over ``EVENT_DAYS`` days in event_id order, users and event
    types uniform."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng([seed, 1])
    secs = np.sort(rng.uniform(0.0, EVENT_DAYS * _DAY, N_EVENTS))
    pdf = pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(secs, unit="s"))
        .astype("datetime64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS, dtype="int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)],
        "value": np.round(rng.exponential(VALUE_MEAN, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    pdf.to_parquet(path, index=False)


def _write_documents(path: str, seed: int) -> None:
    """documents(doc_id, text, lang, source, n_chars): texts of uniform
    length and words; ``NEAR_DUP_PCT`` % of the documents copy another,
    original document's text and append " dup" (two copies of the same
    original are exact duplicates of each other)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    lo, hi = DOC_WORDS
    texts = [" ".join(rng.choice(words, int(n)))
             for n in rng.integers(lo, hi + 1, N_DOCS)]
    is_dup = np.zeros(N_DOCS, dtype=bool)
    is_dup[rng.choice(N_DOCS, N_DOCS * NEAR_DUP_PCT // 100, replace=False)] = True
    originals = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    langs, p = zip(*LANGS)
    pdf = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": np.array(langs)[rng.choice(len(langs), N_DOCS, p=p)],
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    pdf.to_parquet(path, index=False)


def main(argv=None) -> int:
    """Build one cached part: ``data.py --seed N --part base|tables|queries``."""
    import argparse

    import env

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--part", choices=DataCache.PARTS, required=True)
    args = ap.parse_args(argv)
    run_dir = os.path.join(env.STATE, "run", f"build-{os.getpid()}")
    env.prepare_process(run_dir)
    try:
        DataCache(env.ROOT, os.path.join(env.STATE, "cache"), args.seed) \
            .build(args.part, run_dir)
    finally:
        env.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
