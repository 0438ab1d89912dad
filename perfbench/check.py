"""Output checks, run after the timed loop.

Each op name gets one reference per run: the warm-pass result, compared
with the registry's DuckDB ``oracle_sql``/``local_oracle`` through
``tools.check_oracle.compare_frames`` where one exists, or with an
independent check where it does not. Every timed op must then reproduce
that reference's digest. The streaming outputs are compared with the
batch operators over everything landed (stream == batch).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def oracle_connection(data_dir: str):
    from tools.check_oracle import oracle_connection as connect

    return connect(data_dir)


def _stable_view(name: str, pdf: pd.DataFrame) -> pd.DataFrame:
    # plan node ids are a process-wide counter: every execution of
    # debug_analyze_stats numbers its nodes afresh
    if name == "debug_analyze_stats":
        return pdf.drop(columns=["node_id"])
    return pdf


def digest(name: str, pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: row count plus the wrapping
    sum of per-row hashes, floats rounded to 9 decimals (the gate's
    normalization)."""
    d = _stable_view(name, pdf)
    d = d[sorted(d.columns)].copy()
    for c in d.columns:
        if d[c].dtype.kind == "f":
            d[c] = d[c].round(9)
        elif d[c].dtype == object:  # strings, or arrays pandas cannot hash
            d[c] = d[c].map(repr)
    h = pd.util.hash_pandas_object(d, index=False).to_numpy(dtype="uint64")
    return f"{len(d)}:{int(h.sum(dtype='uint64')):016x}"


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def reference(con, name: str, pdf: pd.DataFrame) -> tuple[str, str]:
    """(problem or "", digest) for a warm-pass result."""
    from pixie_spark.queries import QUERIES
    from tools.check_oracle import compare_frames

    spec = QUERIES[name]
    if name == "dedup_minhash_lsh":
        # the production banding (16 x 4) may miss pairs but must never
        # emit one the exact all-pairs Jaccard oracle does not have
        exact = con.execute(spec.oracle).fetchdf()
        truth = {(int(a), int(b)): j for a, b, j in exact[["doc_a", "doc_b", "jaccard"]].itertuples(index=False)}
        bad = [
            (a, b) for a, b, j in pdf[["doc_a", "doc_b", "jaccard"]].itertuples(index=False)
            if truth.get((int(a), int(b))) != _round6(j)
        ]
        problem = f"{len(bad)} pairs not in the exact oracle, e.g. {bad[:3]}" if bad else ""
        if not problem and len(pdf) == 0:
            problem = "no near-duplicate pairs found"
    elif name == "corpus_clean_pipeline":
        row = pdf.iloc[0].to_dict() if len(pdf) == 1 else {}
        funnel = [row.get(k) for k in (
            "n_input", "n_after_quality", "n_after_exact", "n_after_near", "n_clean")]
        from perfbench.gen import N_DOCS

        ok = (
            len(pdf) == 1
            and funnel[0] == N_DOCS
            and all(a >= b for a, b in zip(funnel, funnel[1:]))
            and funnel[-1] >= 1
        )
        problem = "" if ok else f"funnel is not a shrinking corpus: {row}"
    elif spec.oracle or spec.local_oracle:
        odf = con.execute(spec.oracle or spec.local_oracle).fetchdf()
        problem = "; ".join(compare_frames(pdf, odf))
    else:
        ids = pdf["node_id"] if "node_id" in pdf else pd.Series(dtype="int64")
        problem = "" if len(pdf) and ids.is_unique else "empty or duplicate node ids"
    return problem, digest(name, pdf)


def pair_yield(df, n_out: int) -> dict:
    """Emitted pairs over candidate pairs, from the SQLMetrics of the
    plan that just ran: the candidates are the largest join output in
    the executed plan."""
    from pixie_spark.plans.analyze import _walk

    rows: list = []
    _walk(df._jdf.queryExecution().executedPlan(), 0, set(), rows)
    joins = [r.rows_out or 0 for r in rows if "Join" in r.node]
    return {"emitted": n_out, "candidates": max(joins) if joins else 0}


def shards(result: dict | None, kept: set[int], shard_rows: int) -> str:
    """The written shards hold exactly the kept documents, every shard
    full except the last."""
    import pyarrow.dataset as ds

    if not result:
        return "no shard output"
    t = ds.dataset(result["path"], format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "shard"]
    )
    ids = t.column("doc_id").to_numpy()
    sizes = np.bincount(t.column("shard").to_numpy().astype("int64"))
    expect_n = math.ceil(len(kept) / shard_rows)
    if set(ids.tolist()) != kept or len(ids) != len(kept):
        return f"shards hold {len(ids)} docs, expected the {len(kept)} kept ones"
    if result["n_shards"] != expect_n or len(sizes) != expect_n:
        return f"{len(sizes)} shards, expected {expect_n}"
    if any(s != shard_rows for s in sizes[:-1]) or not 0 < sizes[-1] <= shard_rows:
        return f"uneven shard sizes {sizes.tolist()}"
    return ""


def stream_outputs(spark, rp) -> dict[str, str]:
    """Compare each streaming query's accumulated output with its batch
    twin over every landed input."""
    from pyspark.sql import functions as F

    import pixie_spark.streaming as S
    from pixie_spark.operators.dedup import minhash_lsh_pairs
    from pixie_spark.streaming.ingest import read_accumulated
    from pixie_spark.streaming.stateful import streaming_anomalies
    from perfbench.workloads import ROLL_WATERMARK, ROLL_WINDOW

    out: dict[str, str] = {}
    events = spark.read.schema(rp.ev_schema).parquet(*rp.landed_events)

    def key_z(pdf):
        return {
            (int(r.user_id), int(r.ts)): (
                int(r.baseline_n),
                None if r.z is None or (isinstance(r.z, float) and math.isnan(r.z)) else round(r.z, 6),
                bool(r.is_anomaly),
            )
            for r in pdf.itertuples(index=False)
        }

    want = key_z(streaming_anomalies(events, entity_col="user_id", ts_col="ts").toPandas())
    got_pdf = spark.table("perfbench_anomalies").toPandas()
    got = key_z(got_pdf)
    out["anomalies"] = (
        "" if got == want and len(got_pdf) == len(want)
        else f"stream has {len(got_pdf)} rows, batch {len(want)}; "
        f"{sum(1 for k in want if got.get(k) != want[k])} differ"
    )

    aggs = {"n": F.count(F.lit(1)), "total": F.sum("value")}
    batch = S.rolling_agg(events, ROLL_WINDOW, aggs, by=["event_type"], time_col="ts").toPandas()
    window_ns = 600 * 10**9
    delay_ns = 300 * 10**9
    # windows closed by the watermark the last landed batch ran under
    before_last = spark.read.schema(rp.ev_schema).parquet(*rp.landed_events[:-1])
    wm = before_last.agg(F.max("ts")).first()[0] - delay_ns
    emitted = spark.table("perfbench_rolling").toPandas()
    b = {(int(r.ts), r.event_type): (int(r.n), float(r.total)) for r in batch.itertuples(index=False)}
    e = {(int(r.ts), r.event_type): (int(r.n), float(r.total)) for r in emitted.itertuples(index=False)}
    wrong = [k for k, v in e.items() if b.get(k) != v]
    missing = [k for k in b if k[0] + window_ns < wm - 10**9 and k not in e]
    out["rolling"] = (
        "" if not wrong and not missing and len(e) == len(emitted) and e
        else f"{len(wrong)} emitted windows differ from batch, {len(missing)} closed windows "
        f"missing, {len(emitted) - len(e)} duplicates"
    )

    docs = spark.read.parquet(*rp.landed_docs)
    full = {
        frozenset((int(r.doc_a), int(r.doc_b))): round(r.est_jaccard, 9)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", n=5, num_hashes=64, bands=16,
                                   threshold=0.5).toPandas().itertuples(index=False)
    }
    acc = read_accumulated(spark, rp.pairs_dir).toPandas()
    got_pairs = {
        frozenset((int(r.doc_a), int(r.doc_b))): round(r.est_jaccard, 9)
        for r in acc.itertuples(index=False)
    }
    out["ingest"] = (
        "" if got_pairs == full and len(acc) == len(got_pairs) and full
        else f"stream accumulated {len(acc)} pairs, full rebuild {len(full)}"
    )
    return out

