"""The closed-loop workloads, their seeded inputs and their oracles.

Each workload is one client in one process with no think time. Its inputs
come from ``numpy.random.default_rng(seed)``; the program only ever sees
the files the generator writes. Every operation is checked against an
answer the benchmark computes itself, and an operation that raises or
fails a check counts as failed.

A workload runs its set-up (generation, build, warm-up operations of each
kind, and for ``mutate_commit`` a 128-query recall evaluation at a fixed
point), opens the timed window, runs a fixed number of timed units (whole
fold cycles, or chat chunks) and closes it. The number of units follows
from ``seconds`` and the unit's nominal cost (``unit_s``: its cost at the
benchmark's first commit on a 4-core host), so the window lasts about
``seconds`` there, and every run with the same ``seconds`` times the same
operation positions however fast the host is at the moment. The quality
figures are taken over operations fixed by the seed, so they repeat
exactly.
"""

from __future__ import annotations

import os
import re
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. "full" is what the benchmark measures; "toy" is the
# smoke test's size.
SIZES = {
    "mutate_commit": {
        "full": dict(rows=4000, dim=64, clusters=24, cells=8, spread=1.6,
                     batch=200, nprobe=2, fold_every=3, keep_epochs=1, unit_s=13),
        "toy": dict(rows=600, dim=16, clusters=8, cells=4, spread=1.0,
                    batch=40, nprobe=1, fold_every=2, keep_epochs=1, unit_s=60),
    },
    "chat_ingest": {
        "full": dict(lines=400, dim=64, queries=4, dup_rate=0.05,
                     bad_rate=0.05, hebrew_rate=0.1, max_live_dirs=4,
                     unit_s=7),
        "toy": dict(lines=60, dim=16, queries=1, dup_rate=0.1,
                    bad_rate=0.05, hebrew_rate=0.1, max_live_dirs=2,
                    unit_s=60),
    },
}
K = 10
EVAL_QUERIES = 128  # recall_at_10 is taken over one batch of this many


class Run:
    """State shared by a workload and the harness: the session, the tracer,
    the work directory and the op/failure tally."""

    def __init__(self, spark, tracer, work_dir, seed, seconds, size, corrupt):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.size = size
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._op_failed = False
        self.raised = False  # an op raised: the loops stop, state is unknown
        self.detail: dict = {}  # workload-specific figures, by metric name
        self.e2e: dict = {}  # the end-to-end metrics, by BENCHMARK.json name

    def path(self, *parts) -> str:
        return os.path.join(self.work_dir, *parts)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self._op_failed = True
            self.failures.append(what)

    def attempt(self, name: str, fn, *args):
        """Run one operation; returns its result, or None if it raised."""
        self.attempted += 1
        self._op_failed = False
        try:
            return self.tracer.op(name, fn, *args)
        except Exception as e:  # a failed op is a measured outcome
            self._op_failed = self.raised = True
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None
        finally:
            self.failed += self._op_failed

    def gen(self, fn, *args):
        return self.tracer.call("bench.gen", fn, *args)

    def oracle(self, fn, *args):
        return self.tracer.call("bench.oracle", fn, *args)

    def take_corruption(self, kind: str) -> bool:
        """True once for the corruption the smoke test asked for."""
        if self.corrupt == kind:
            self.corrupt = None
            return True
        return False

    def timed_units(self, unit_s: float) -> int:
        """Units in the window: fixed by ``seconds``, at least one."""
        return max(1, round(self.seconds / unit_s))


# -- generators ----------------------------------------------------------


def clustered(rng, n: int, dim: int, centers: np.ndarray, spread: float):
    """Unit vectors around ``centers``; ``spread`` is the noise norm
    relative to a unit center, so cells overlap and top-10 recall of a
    probed index is below 1.0."""
    lab = rng.integers(0, len(centers), n)
    x = centers[lab] + spread * rng.standard_normal((n, dim)) / np.sqrt(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def unit_centers(rng, count: int, dim: int) -> np.ndarray:
    c = rng.standard_normal((count, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def write_vectors(spark, path: str, ids: np.ndarray, x: np.ndarray):
    """One parquet file of ``(vec_id long, embedding array<float>)`` written
    with pyarrow straight from numpy, then opened as a DataFrame."""
    n, dim = x.shape
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1)))
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb}), path)
    return spark.read.schema("vec_id long, embedding array<float>").parquet(path)


# -- oracles ---------------------------------------------------------------


def exact_topk(ids: np.ndarray, x: np.ndarray, q: np.ndarray, k: int = K):
    """Exact dot-product top-k (ids, scores) over the live matrix, in
    float64 over the stored float32 values."""
    scores = x.astype(np.float64) @ q.astype(np.float64)
    top = np.argsort(-scores, kind="stable")[:k]
    return ids[top], scores[top]


def check_topk(run: Run, got, ids, x, q, exact_scores: bool, what: str,
               tol: float = 2e-6) -> float:
    """Check one top-k result ``[(id, score)]`` and return its recall
    against the exact top-k. A result must have k distinct live ids in
    non-increasing score order; with ``exact_scores`` each score must be
    the exact dot product of the query with that id's stored vector (the
    index re-ranks the shortlist exactly, so only recall may suffer)."""
    if run.take_corruption("drop_row"):
        got = got[:-1]
    true_ids, true_scores = exact_topk(ids, x, q)
    got_ids = [g[0] for g in got]
    got_scores = [g[1] for g in got]
    pos = {int(i): n for n, i in enumerate(ids)}
    run.check(len(got) == min(K, len(ids)), f"{what}: {len(got)} rows, want {K}")
    run.check(len(set(got_ids)) == len(got_ids), f"{what}: duplicate ids")
    run.check(all(int(i) in pos for i in got_ids), f"{what}: id not live")
    run.check(
        all(a >= b - tol for a, b in zip(got_scores, got_scores[1:])),
        f"{what}: scores not sorted",
    )
    if exact_scores:
        want = [
            float(x[pos[int(i)]].astype(np.float64) @ q) if int(i) in pos else None
            for i in got_ids
        ]
        run.check(
            all(b is not None and abs(a - b) <= tol for a, b in zip(got_scores, want)),
            f"{what}: score is not the exact dot product",
        )
    else:  # an exact index must return the exact top-k scores
        run.check(
            len(got_scores) == len(true_scores)
            and all(abs(a - b) <= tol for a, b in zip(got_scores, true_scores)),
            f"{what}: scores differ from the exact top-{K}",
        )
    return len(set(map(int, got_ids)) & set(map(int, true_ids))) / min(K, len(ids))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def median(vals) -> float:
    return statistics.median(vals) if vals else float("nan")


def tail(vals) -> dict:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(vals)
    if n < 11:
        return {"value": None, "pct": None, "n": n}
    s = sorted(vals)
    pct = max(p for p in range(1, 100) if n - int(np.ceil(p / 100 * n)) >= 10)
    return {"value": s[int(np.ceil(pct / 100 * n)) - 1], "pct": pct, "n": n}


# -- ANN search checks -------------------------------------------------------


def batch_search(run: Run, idx, ids, x, qs, nprobe: int, what: str) -> list[float]:
    """One ``search_batched`` over ``qs``, every answer checked; returns the
    per-query recall."""
    rows = run.tracer.call(
        "ann.search_batched",
        lambda: idx.search_batched(
            queries=[(i, q.tolist()) for i, q in enumerate(qs)], k=K, nprobe=nprobe
        ).collect(),
    )
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], -r["score"])):
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    run.check(len(by_q) == len(qs), f"{what}: {len(by_q)} of {len(qs)} queries answered")
    return [
        run.oracle(check_topk, run, by_q.get(i, []), ids, x, q, True, f"{what} q{i}")
        for i, q in enumerate(qs)
    ]


def single_search(run: Run, idx, ids, x, q, nprobe: int, what: str) -> float:
    rows = run.tracer.call(
        "ann.search",
        lambda: idx.search(query_vec=q.tolist(), k=K, nprobe=nprobe).collect(),
    )
    got = [(r["vec_id"], r["score"]) for r in rows]
    return run.oracle(check_topk, run, got, ids, x, q, True, what)


# -- mutate_commit -----------------------------------------------------------


def mutate_commit(run: Run) -> None:
    """Write-heavy cycles on a 64-dim IvfSq8Index with a constant live row
    count: upsert (half replacing live ids, half new ids), delete as many of
    the oldest ids as were added, reopen with ``load``, one read-after-write
    ``search``, then ``maintenance_tick``, which folds on every
    ``fold_every``-th cycle. The window holds whole fold cycles, so every
    run times the same cycle positions."""
    from whatsapp_vectordb_spark.operators.ann import (
        IvfSq8Index,
        layout_mutation_stats,
        maintenance_tick,
        verify_layout,
    )

    p = SIZES["mutate_commit"][run.size]
    t = run.tracer
    dim, half, nprobe = p["dim"], p["batch"] // 2, p["nprobe"]
    centers = unit_centers(run.rng, p["clusters"], dim)
    base_ids = np.arange(p["rows"], dtype=np.int64)
    base = run.gen(clustered, run.rng, p["rows"], dim, centers, p["spread"])
    corpus = run.gen(write_vectors, run.spark, run.path("corpus.parquet"), base_ids, base)
    live = dict(zip(base_ids.tolist(), base))  # insertion order = age
    ipath = run.path("index")

    def build():
        built = t.call("ann.build", IvfSq8Index.build, corpus, n_centroids=p["cells"])
        t.call("ann.save", built.save, ipath, store_vectors=True)
        return t.call("ann.load", IvfSq8Index.load, run.spark, ipath)

    state = {"idx": run.attempt("op.open", build), "cycle": 0, "next_id": p["rows"]}
    if state["idx"] is None:
        return
    commit_s: list[float] = []
    reopen_s: list[float] = []
    fold_s: list[float] = []

    def live_arrays():
        return np.fromiter(live, dtype=np.int64, count=len(live)), np.stack(list(live.values()))

    def cycle(fold_every: int):
        c = state["cycle"]
        state["cycle"] += 1
        order = list(live)
        dels = order[:half]
        replace = run.rng.choice(order[half:], half, replace=False).tolist()
        new = list(range(state["next_id"], state["next_id"] + half))
        state["next_id"] += half
        bids = np.array(replace + new, dtype=np.int64)
        bx = run.gen(clustered, run.rng, len(bids), dim, centers, p["spread"])
        batch = run.gen(write_vectors, run.spark, run.path(f"batch{c}.parquet"), bids, bx)

        t.call("ann.upsert", state["idx"].upsert, batch, path=ipath)
        commit_s.append(t.spans[-1]["end"] - t.spans[-1]["start"])
        if not run.take_corruption("skip_commit"):
            for i, v in zip(bids.tolist(), bx):
                live.pop(i, None)  # a replaced id becomes the youngest
                live[i] = v
        t.call("ann.delete", state["idx"].delete, dels, path=ipath)
        for i in dels:
            del live[i]

        if t.counters:
            t.note("ann.load.batch_dirs", layout_mutation_stats(ipath)["batch_commits"])
        state["idx"] = t.call("ann.load", IvfSq8Index.load, run.spark, ipath)
        reopen_s.append(t.spans[-1]["end"] - t.spans[-1]["start"])
        q = clustered(run.rng, 1, dim, centers, p["spread"])[0]
        single_search(run, state["idx"], *live_arrays(), q, nprobe, f"cycle {c} search")

        # one data commit and two tombstone commits per cycle
        tick = t.call(
            "ann.tick",
            maintenance_tick,
            IvfSq8Index,
            run.spark,
            ipath,
            max_data_commits=fold_every - 1,
            max_tombstone_commits=2 * fold_every - 1,
            keep_epochs=p["keep_epochs"],
        )
        if not tick["folded"]:
            # a poll below the thresholds is a listdir, not a fold: keep it
            # out of the ann.tick medians (still in ann.self_s)
            t.spans[-1]["name"] = "ann.tick_poll"
            return
        fold_s.append(t.spans[-1]["end"] - t.spans[-1]["start"])
        t.note("ann.tick.folded", 1)
        if t.counters:
            t.note("ann.fold.bytes_rewritten", t.spans[-1]["bytes_written"])
        # the handle opened before the fold reads files the fold replaced
        state["idx"] = t.call("ann.load", IvfSq8Index.load, run.spark, ipath)

    # warm-up: one cycle whose tick folds pays worker spawn and JIT for
    # every verb; then the recall evaluation on that fixed state
    run.attempt("op.cycle", cycle, 1)
    recall = run.attempt("op.eval", batch_search, run, state["idx"], *live_arrays(),
                         clustered(run.rng, EVAL_QUERIES, dim, centers, p["spread"]),
                         nprobe, "eval")
    if run.raised:
        return
    t.open_window()
    c0 = len(commit_s)
    for _ in range(run.timed_units(p["unit_s"]) * p["fold_every"]):
        if run.raised:
            break
        run.attempt("op.cycle", cycle, p["fold_every"])
    t.close_window()
    window = t.window[1] - t.window[0]

    def verify():
        report = verify_layout(ipath, run.spark)
        return report, IvfSq8Index.load(run.spark, ipath).codes.count()

    out = run.attempt("op.verify", lambda: t.call("ann.verify", verify))
    if out is not None:
        report, n = out
        run.check(report["ok"], f"verify_layout: {report['errors']}")
        run.check(n == len(live), f"live count {n}, oracle {len(live)}")
    search_s = t.durations("ann.search")
    cycles = len(commit_s) - c0
    rows_per_s = cycles * (p["batch"] + half) / window  # upserted + deleted
    run.e2e.update(
        query_mean_s=float(np.mean(search_s)),
        op_p50_s=median(commit_s[c0:]),
        work_per_s=rows_per_s,
        recall_at_10=float(np.mean(recall)) if recall else float("nan"),
        space_amp=dir_bytes(ipath) / (len(live) * (8 + 4 * dim)),
    )
    run.detail.update(
        query_p50_s=median(search_s),
        query_tail_s=tail(search_s),
        commit_p50_s=median(commit_s[c0:]),
        commit_tail_s=tail(commit_s[c0:]),
        reopen_p50_s=median(reopen_s[c0:]),
        fold_p50_s=median(fold_s[1:]),
        rows_per_s=rows_per_s,
        samples={"search_s": search_s, "upsert_s": commit_s[c0:], "load_s": reopen_s[c0:],
                 "fold_s": fold_s[1:]},
    )


# -- chat_ingest ---------------------------------------------------------------

_EN = (
    "meeting tomorrow lunch dinner project deadline coffee weekend photo video "
    "call later thanks great idea plan trip ticket train station school kids "
    "game score movie book market price update report draft review budget "
    "server release bug fix test deploy morning evening birthday party gift "
    "garden weather rain sun beach road traffic office remote home family"
).split()
_HE = "שלום תודה בוקר ערב מחר היום פגישה משפחה חברים עבודה בית ים גשם שמש".split()
_SENDERS = ["john_doe", "dana", "avi_k", "maria", "lee", "omer", "noa", "sam"]
_SENDERS_HE = ["משתמש1", "משתמש2", "יעל"]


_TOKEN = re.compile(r"[a-z0-9]")


def tokenless(text: str) -> bool:
    """No Latin letter or digit: the embedder maps such text to NULL."""
    return not _TOKEN.search(text.lower())


class ChatGen:
    """A seeded WhatsApp export, chunk by chunk. About ``bad_rate`` of the
    lines are malformed (continuation lines, broken timestamps, no sender
    separator); about ``hebrew_rate`` are Hebrew; about ``dup_rate`` are
    forwarded near-duplicates of an earlier message with a few words
    changed, and the generator remembers which."""

    def __init__(self, rng, p):
        self.rng = rng
        self.p = p
        self.chunk = 0
        self.sent: list[tuple[int, str]] = []  # (global message no, text)
        self.msg_no = 0
        self.vocab = _EN + [f"{w}{i}" for w in _EN for i in range(40)]

    def _words(self, n, hebrew):
        """Hebrew messages mix in Latin words, as real ones do; a message
        with no Latin token embeds to NULL (the embedder's documented
        tokenless case)."""
        words = [self.vocab[i] for i in self.rng.integers(0, len(self.vocab), n)]
        if hebrew:
            for j in np.flatnonzero(self.rng.random(n) < 0.7):
                words[j] = _HE[self.rng.integers(0, len(_HE))]
        return words

    def next_chunk(self) -> dict:
        """Lines of one chunk plus the facts the oracle needs: line count,
        malformed count, and the planted (earlier, forwarded) message pairs
        as (chunk, ok-line number) keys."""
        rng, p = self.rng, self.p
        c = self.chunk
        self.chunk += 1
        lines, planted = [], []
        bad = ok = 0
        day = 1 + c % 28
        for i in range(p["lines"]):
            sec = i * 5
            ts = f"[{day:02d}.09.23, {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}]"
            r = rng.random()
            if r < p["bad_rate"]:
                bad += 1
                kind = rng.integers(0, 3)
                words = " ".join(self._words(6, False))
                lines.append(
                    words if kind == 0  # continuation line
                    else f"[{day:02d}/09/23 {i}] ~ dana: {words}" if kind == 1
                    else f"{ts} ~ no separator here {words}"
                )
                continue
            ok += 1
            hebrew = rng.random() < p["hebrew_rate"]
            if self.sent and rng.random() < p["dup_rate"]:
                src_key, text = self.sent[rng.integers(0, len(self.sent))]
                words = text.split()
                for j in rng.choice(len(words), 1, replace=False):
                    words[j] = self._words(1, hebrew)[0]
                text = " ".join(words)
                planted.append((src_key, (c, ok)))
            else:
                text = " ".join(self._words(int(rng.integers(14, 26)), hebrew))
                self.sent.append(((c, ok), text))
            senders = _SENDERS_HE if hebrew else _SENDERS
            sender = senders[rng.integers(0, len(senders))]
            lines.append(f"{ts} ~ {sender}: {text}")
        return {"chunk": c, "lines": lines, "bad": bad, "ok": ok, "planted": planted}


def chat_ingest(run: Run) -> None:
    """One generated export chunk per op, through the reference's verbs in
    the order ``cli.embed_action``/``upsert_action``/``query_action`` call
    them: parse, embed to parquet, then (after a MinHash near-duplicate
    check that drops messages pairing with an earlier one) upsert into a
    VectorIndex, and a few ``VectorIndex.query`` calls."""
    from pyspark.sql import functions as F

    from whatsapp_vectordb_spark.embedder import embed_text, with_embedding
    from whatsapp_vectordb_spark.index import VectorIndex
    from whatsapp_vectordb_spark.operators.dedup_index import MinHashDedupIndex
    from whatsapp_vectordb_spark.parse import parse_chat_lines, parse_counters, with_line_ids

    p = SIZES["chat_ingest"][run.size]
    t, spark, dim = run.tracer, run.spark, p["dim"]
    gen = ChatGen(run.rng, p)
    root, dpath = run.path("vector_store"), run.path("dedup")
    dedup = MinHashDedupIndex(spark, dpath)
    live: dict[str, tuple[str, np.ndarray]] = {}  # id -> (text, vector)
    key_of: dict[tuple[int, int], str] = {}  # (chunk, ok line) -> record id
    planted_all: list[tuple] = []
    found: set[tuple[str, str]] = set()
    recalls: list[float] = []
    ingest_s: list[float] = []
    lines_done = [0]
    stages = ("parse.parse_chat_lines", "embedder.with_embedding",
              "dedup_index.add_batch", "index.upsert")

    def write_chunk(ch):
        path = run.path(f"chat{ch['chunk']}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(ch["lines"]) + "\n")
        return path

    def ingest():
        ch = run.gen(gen.next_chunk)
        c, src = ch["chunk"], run.gen(write_chunk, ch)
        emb = run.path(f"emb{c}")
        op = t.op_id

        # embed_action: parse-only counters job, then the embedded records
        def parse():
            parsed = parse_chat_lines(spark.read.text(src))
            return parsed, parse_counters(parsed).head().asDict()

        parsed, counters = t.call("parse.parse_chat_lines", parse)
        run.check(
            counters["lines_processed"] == len(ch["lines"])
            and counters["parse_failures"] == ch["bad"],
            f"chunk {c} parse counters {counters}, want {len(ch['lines'])} lines "
            f"{ch['bad']} malformed",
        )
        t.note("parse.lines", counters["lines_processed"])
        t.note("parse.ok_ratio", counters["success_count"] / counters["lines_processed"])

        def embed():
            ok = with_line_ids(parsed.where(F.col("parse_ok")))
            # ids restart at 1 in every export; a chunk prefix keeps them unique
            with_embedding(ok, "message", "embedding", dim=dim).select(
                F.concat(F.lit(f"c{c}_"), F.col("id")).alias("id"),
                "ts",
                "sender",
                F.col("message").alias("text"),
                "embedding",
            ).write.mode("overwrite").parquet(emb)

        t.call("embedder.with_embedding", embed)
        got = run.oracle(lambda: pq.read_table(emb, columns=["id", "text", "embedding"]).to_pylist())
        t.note("embedder.rows", len(got))
        run.check(len(got) == ch["ok"], f"chunk {c}: {len(got)} embedded, want {ch['ok']}")
        vecs = {
            r["id"]: None if r["embedding"] is None else np.asarray(r["embedding"], np.float32)
            for r in got
        }
        run.check(
            all(
                (v is None) == tokenless(r["text"])
                and (v is None or (v.shape == (dim,) and abs(np.linalg.norm(v) - 1) < 1e-4))
                for r, v in zip(got, vecs.values())
            ),
            f"chunk {c}: embedding is not a {dim}-dim unit vector (NULL iff tokenless)",
        )
        for r in got:
            key_of[(c, int(r["id"].rsplit("_", 1)[1]))] = r["id"]

        # near-duplicate check on the parsed messages: drop the later one
        def find_pairs():
            batch = spark.read.parquet(emb).select(
                (F.lit(c * 1_000_000) + F.substring_index("id", "_", -1).cast("long"))
                .alias("doc_id"),
                "text",
            )
            return dedup.add_batch(batch).collect()

        pairs = t.call("dedup_index.add_batch", find_pairs)
        t.note("dedup_index.pairs", len(pairs))
        name = {c2 * 1_000_000 + n: k for (c2, n), k in key_of.items()}
        drop = set()
        for pr in pairs:
            a, b = name.get(pr["id_a"]), name.get(pr["id_b"])
            run.check(a is not None and b is not None, f"chunk {c}: pair of unknown docs")
            found.add((a, b))
            if b in vecs:
                drop.add(b)
        planted_all.extend(ch["planted"])

        # upsert_action: get-or-create, replace-by-id merge
        def upsert():
            idx = VectorIndex.create_or_get(spark, root, "whatsapp-chat", dimension=dim)
            keep = spark.read.parquet(emb)
            if drop:
                keep = keep.where(~F.col("id").isin(sorted(drop)))
            idx.upsert(keep.select("id", "embedding", "text").withColumn("namespace", F.lit("")))
            return idx

        idx = t.call("index.upsert", upsert)
        for r in got:
            if r["id"] not in drop:
                live[r["id"]] = (r["text"], vecs[r["id"]])
        n = t.call("index.read", lambda: idx.read().count())
        run.check(n == len(live), f"chunk {c}: index has {n} rows, oracle {len(live)}")
        t.call("dedup_index.tick", dedup.maintenance_tick, max_live_dirs=p["max_live_dirs"])
        lines_done[0] += len(ch["lines"])
        ingest_s.append(sum(
            s["end"] - s["start"] for s in t.spans if s["op"] == op and s["name"] in stages
        ))
        return idx

    def query(idx, text):
        rows = t.call("index.query", lambda: idx.query(text, k=K).collect())
        ids = [i for i, (_, v) in live.items() if v is not None]
        x = np.stack([live[i][1] for i in ids])
        q = np.asarray(embed_text(text, dim=dim), dtype=np.float64)
        num = np.arange(len(ids))
        at = {i: n for n, i in enumerate(ids)}
        got = [(at.get(r["id"], -1), r["score"]) for r in rows]
        return run.oracle(check_topk, run, got, num, x, q, False, "query", 1e-5)

    def chunk_op():
        idx = ingest()
        texts = [tx for tx, v in live.values() if v is not None]
        for _ in range(p["queries"]):
            # the first half of a live message's Latin words
            src = [w for w in texts[run.rng.integers(0, len(texts))].split() if not tokenless(w)]
            text = " ".join(src[: max(3, len(src) // 2)])
            recalls.append(query(idx, text))

    # warm-up: the first chunk pays worker spawn and JIT for every stage
    run.attempt("op.chunk", chunk_op)
    t.open_window()
    n0, i0, l0 = len(recalls), len(ingest_s), lines_done[0]
    chunks = run.timed_units(p["unit_s"])
    for _ in range(chunks):
        if run.raised:
            break
        run.attempt("op.chunk", chunk_op)
    t.close_window()
    window = t.window[1] - t.window[0]

    planted = planted_all  # those of the warm-up and the timed chunks
    found_keys = {frozenset(pr) for pr in found}
    hit = sum(frozenset((key_of[a], key_of[b])) in found_keys for a, b in planted)
    raw = sum(len(i.encode()) + len(tx.encode()) + 4 * dim for i, (tx, _) in live.items())
    run.e2e.update(
        query_mean_s=float(np.mean(t.durations("index.query"))),
        op_p50_s=median(ingest_s[i0:]),
        work_per_s=(lines_done[0] - l0) / window,
        recall_at_10=float(np.mean(recalls[n0:])),
        space_amp=(dir_bytes(root) + dir_bytes(dpath)) / raw,
    )
    run.detail.update(
        query_p50_s=median(t.durations("index.query")),
        ingest_p50_s=median(ingest_s[i0:]),
        rows_per_s=(lines_done[0] - l0) / window,
        dedup_recall=hit / len(planted) if planted else float("nan"),
        planted_pairs=len(planted),
        samples={"ingest_s": ingest_s[i0:], "query_s": t.durations("index.query")},
    )


WORKLOADS = {
    "mutate_commit": mutate_commit,
    "chat_ingest": chat_ingest,
}
