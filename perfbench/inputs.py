"""Seeded input staging for the benchmark workloads.

Inputs are generated by the benchmark process and a few forked workers
(never timed) with the package's own generator, ``docling_api_spark.gen``,
and written as plain parquet files. The program under test only ever sees those files. Staging is
cached per (workload, seed, size): the same arguments give byte-identical
files, so a cached copy is as good as a fresh one.
"""

from __future__ import annotations

import multiprocessing
import os
import random
import shutil
from collections import Counter
from datetime import timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

ROWS_PER_FILE = 2500
STAGING_PROCS = min(4, len(os.sched_getaffinity(0)))

TRANSCRIPTS = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us")),
])
DOCS = pa.schema([
    pa.field("doc_id", pa.int64(), nullable=False),
    pa.field("text", pa.string()),
])

# corpus_build duplicate mix, as shares of all input documents
EXACT_COPY_SHARE = 0.15
NEAR_COPY_SHARE = 0.10
EVAL_SHARE = 0.01
# gen.py classes that fail, skip or hold no text: never copied
_NO_CONTENT = {"malformed:b64", "malformed:html", "oversize", "needs_ocr",
               "empty"}
_HTML = {"html_article", "html_table", "html_linkfarm", "malformed:html"}


def _class_plan(n: int, rng: random.Random, drop_html: bool) -> list[str]:
    """Exactly gen.py's class weights over ``n`` payloads, shuffled.
    ``malformed`` splits evenly into corrupt base64 and garbled html, so
    every seed has the same number of error rows."""
    from docling_api_spark.gen import PAYLOAD_CLASSES

    weights = []
    for cls, w in PAYLOAD_CLASSES:
        weights += ([(cls + ":b64", w / 2), (cls + ":html", w / 2)]
                    if cls == "malformed" else [(cls, w)])
    if drop_html:
        weights = [(c, w) for c, w in weights if c not in _HTML]
    total = sum(w for _, w in weights)
    counts = {c: int(n * w / total) for c, w in weights}
    counts["plain"] += n - sum(counts.values())
    plan = [c for c, k in counts.items() for _ in range(k)]
    rng.shuffle(plan)
    return plan


def _stream(span: tuple[int, int, int]) -> list[tuple[str, str]]:
    """``payload_for(seed, -1, j)`` for j in [lo, hi), with the malformed
    class split by kind."""
    from docling_api_spark.extraction.kernel import sniff_kind
    from docling_api_spark.gen import payload_for

    seed, lo, hi = span
    out = []
    for j in range(lo, hi):
        cls, text = payload_for(seed, -1, j)
        if cls == "malformed":
            cls += ":b64" if sniff_kind(text) == "b64" else ":html"
        out.append((cls, text))
    return out


def _payloads(seed: int, plan: list[str]) -> list[str]:
    """One gen.py payload per plan entry, of the planned class: the stream
    ``payload_for(seed, -1, j)``, j = 0, 1, ..., dealt out by class in
    order. Workers generate consecutive blocks of the stream, a round of
    blocks at a time, so the result does not depend on their number."""
    need = Counter(plan)
    pools: dict[str, list[str]] = {c: [] for c in need}
    short = len(plan)
    block = max(256, len(plan) // (8 * STAGING_PROCS))
    lo = 0
    workers = multiprocessing.get_context("fork").Pool(STAGING_PROCS)
    try:
        while short:
            spans = [(seed, lo + i * block, lo + (i + 1) * block)
                     for i in range(STAGING_PROCS)]
            lo += STAGING_PROCS * block
            for chunk in workers.map(_stream, spans):
                for cls, text in chunk:
                    if short and len(pools.get(cls, ())) < need[cls]:
                        pools[cls].append(text)
                        short -= 1
    finally:
        workers.terminate()
        workers.join()
    dealt = {c: iter(v) for c, v in pools.items()}
    return [next(dealt[c]) for c in plan]


def _transcript_rows(seed: int, n: int, drop_html: bool) -> list[dict]:
    """The first ``n`` turns of gen.py's conversations 0, 1, 2, ... under
    ``seed`` (ids, roles, tools, times), each carrying a payload of the
    class the plan assigns it. ``drop_html`` leaves html out of the plan
    (the extract_chat mix)."""
    from docling_api_spark.gen import _EPOCH, _role_tool, conv_turn_count

    plan = _class_plan(n, random.Random(f"perfbench-turns:{seed}"), drop_html)
    rows: list[dict] = []
    conv = 0
    # gen_conv's rows without generating its payloads, which the plan
    # replaces anyway (they were half the staging time)
    while len(rows) < n:
        for t in range(min(conv_turn_count(conv, seed), n - len(rows))):
            role, tool = _role_tool(seed, conv, t)
            ts = _EPOCH + timedelta(seconds=conv * 60 + t * 7)
            rows.append({"conv_id": f"conv_{conv:08d}", "turn_idx": t,
                         "role": role, "tool": tool,
                         "ts": ts.astimezone(timezone.utc).replace(tzinfo=None)})
        conv += 1
    for r, text in zip(rows, _payloads(seed, plan)):
        r["text"] = text
    return rows


def _doc_rows(seed: int, n: int) -> tuple[list[dict], list[dict]]:
    """``n`` documents: distinct payloads following the class plan, plus
    seeded exact copies and near-duplicate copies (one word appended) of
    content documents, shuffled; and an eval set of plain-text documents
    copied from them."""
    rng = random.Random(f"perfbench-docs:{seed}")
    n_exact = int(n * EXACT_COPY_SHARE)
    n_near = int(n * NEAR_COPY_SHARE)
    plan = _class_plan(n - n_exact - n_near, rng, drop_html=False)
    base = list(zip(plan, _payloads(seed, plan)))
    content = [t for cls, t in base if cls not in _NO_CONTENT]
    texts = [t for _, t in base]
    texts += [rng.choice(content) for _ in range(n_exact)]
    texts += [rng.choice(content) + " appendix" for _ in range(n_near)]
    rng.shuffle(texts)
    docs = [{"doc_id": i, "text": t} for i, t in enumerate(texts)]
    plain = [t for cls, t in base if cls == "plain"]
    n_eval = max(1, int(n * EVAL_SHARE))
    evals = [{"doc_id": 10**9 + i, "text": t}
             for i, t in enumerate(rng.sample(plain, min(n_eval, len(plain))))]
    return docs, evals


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(path)
    for i in range(0, max(len(rows), 1), ROWS_PER_FILE):
        table = pa.Table.from_pylist(rows[i:i + ROWS_PER_FILE], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i // ROWS_PER_FILE:05d}.parquet"))


def stage(root: str, workload: str, seed: int, size: int) -> dict:
    """Stage (or reuse) the inputs of one workload. Returns the paths:
    ``{"input": ...}`` plus ``{"eval": ...}`` for corpus_build."""
    key = os.path.join(root, f"{workload}-s{seed}-n{size}")
    done = os.path.join(key, "_DONE")
    paths = {"input": os.path.join(key, "input")}
    if workload == "corpus_build":
        paths["eval"] = os.path.join(key, "eval")
    if os.path.exists(done):
        return paths
    tmp = key + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if workload == "corpus_build":
        docs, evals = _doc_rows(seed, size)
        _write(docs, DOCS, os.path.join(tmp, "input"))
        _write(evals, DOCS, os.path.join(tmp, "eval"))
    else:
        rows = _transcript_rows(seed, size, drop_html=workload == "extract_chat")
        _write(rows, TRANSCRIPTS, os.path.join(tmp, "input"))
    shutil.rmtree(key, ignore_errors=True)
    os.rename(tmp, key)
    open(done, "w").close()
    return paths

