"""Deterministic synthetic transcript generator (seed=42 everywhere).

Produces the authoritative input table from BASELINE.json ``input_hint``:
``transcripts(conv_id, turn_idx, role, text, tool, ts)`` with the payload
mix of FIXTURES.md §2 (structural analogs of the reference's real test
documents — headings / tables / boilerplate nav+footer / references, cf.
reference scripts/test_production.py:324-330).

Seeding is per ``(seed, conv_idx, turn_idx)`` so any subset of
conversations can be generated independently on any executor — the
generator itself is a distributed Spark source (``transcripts_df``),
never a driver-side loop.

Turn-count distribution is deliberately skewed (95% of convs 2–20 turns,
4% 50–200, 1% 1000+) to exercise hash(conv_id) salting.
"""

from __future__ import annotations

import base64
import random
from datetime import datetime, timedelta, timezone

from docling_api_spark.extraction.kernel import MAX_PAYLOAD_CHARS, OCR_SENTINEL

DEFAULT_SEED = 42
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_WORDS = (
    "data spark table query join filter merge sort window batch stream "
    "vector column row key value hash scan group agg order part line "
    "customer fast slow big small the a pipeline shuffle broadcast salt "
    "partition executor driver arrow pandas kernel markdown span token "
    "density boilerplate content extraction layout heading paragraph"
).split()

_UNICODE_SNIPPETS = [
    "Café naïve résumé",
    "中文文本处理",
    "données façade",
    "Ünïcödé tëst",
    "emoji ✨ rocket 🚀",
    "математика",
    "ελληνικά",
]

_TOOLS = ["search", "browser", "code"]

PAYLOAD_CLASSES = [
    ("html_article", 30),
    ("html_table", 10),
    ("html_linkfarm", 8),
    ("markdownish", 15),
    ("plain", 20),
    ("pdfish_b64", 7),
    ("malformed", 5),
    ("empty", 3),
    ("oversize", 1),
    ("needs_ocr", 1),
]
_CLASS_CUM = []
_acc = 0
for _name, _w in PAYLOAD_CLASSES:
    _acc += _w
    _CLASS_CUM.append((_acc, _name))
_TOTAL_W = _acc


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _sentence(rng: random.Random) -> str:
    s = _words(rng, rng.randint(6, 16))
    return s[0].upper() + s[1:] + "."


def _para(rng: random.Random, unicode_p: float = 0.15) -> str:
    parts = [_sentence(rng) for _ in range(rng.randint(2, 5))]
    if rng.random() < unicode_p:
        parts.append(rng.choice(_UNICODE_SNIPPETS) + ".")
    return " ".join(parts)


# ---------------------------------------------------------------------------
# Payload makers (one per FIXTURES.md §2 class)
# ---------------------------------------------------------------------------

def _mk_html_article(rng: random.Random, with_tables: bool = False) -> str:
    title = _words(rng, rng.randint(3, 6)).title()
    nav = " ".join(
        f'<a href="/{w}">{w.title()}</a>' for w in rng.sample(_WORDS, 5)
    )
    out = [
        "<html><head><title>Site</title><style>.x{color:red}</style></head><body>",
        f"<nav>{nav}</nav>",
        f"<header><h1>Portal {rng.choice(_WORDS).title()}</h1></header>",
        "<main>",
        f"<h1>{title}</h1>",
    ]
    n_sections = rng.randint(1, 3)
    for _ in range(n_sections):
        out.append(f"<h2>{_words(rng, rng.randint(2, 4)).title()}</h2>")
        for _ in range(rng.randint(1, 3)):
            p = _para(rng)
            if rng.random() < 0.4:
                w = rng.choice(_WORDS)
                p += f' See <a href="/ref">{w}</a> and <b>{rng.choice(_WORDS)}</b> &amp; <i>{rng.choice(_WORDS)}</i>.'
            out.append(f"<p>{p}</p>")
        if rng.random() < 0.5:
            tag = rng.choice(["ul", "ol"])
            items = "".join(
                f"<li>{_sentence(rng)}</li>" for _ in range(rng.randint(2, 5))
            )
            out.append(f"<{tag}>{items}</{tag}>")
        if with_tables:
            ncol = rng.randint(2, 4)
            nrow = rng.randint(2, 5)
            head = "".join(f"<th>{rng.choice(_WORDS).title()}</th>" for _ in range(ncol))
            body = "".join(
                "<tr>" + "".join(f"<td>{rng.choice(_WORDS)} {rng.randint(0, 999)}</td>" for _ in range(ncol)) + "</tr>"
                for _ in range(nrow)
            )
            out.append(f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>")
    out.append("</main>")
    out.append(
        f'<aside><a href="/r1">{_words(rng, 2)}</a> <a href="/r2">{_words(rng, 2)}</a></aside>'
    )
    out.append(f"<footer>&copy; {rng.randint(2020, 2025)} {_words(rng, 2)}</footer>")
    out.append("</body></html>")
    return "\n".join(out)


def _mk_linkfarm(rng: random.Random) -> str:
    farm = " | ".join(
        f'<a href="/{i}">{_words(rng, rng.randint(1, 3))}</a>' for i in range(rng.randint(8, 20))
    )
    content = _para(rng)
    return (
        f"<html><body><div class='links'>{farm}</div>"
        f"<div><p>{content}</p></div>"
        f"<div class='more'>{farm}</div></body></html>"
    )


def _mk_markdownish(rng: random.Random) -> str:
    out = [f"# {_words(rng, rng.randint(2, 5)).title()}", ""]
    for _ in range(rng.randint(1, 3)):
        out += [f"## {_words(rng, 3).title()}", "", _para(rng), ""]
        if rng.random() < 0.5:
            out += [f"- {_sentence(rng)}" for _ in range(rng.randint(2, 4))] + [""]
        if rng.random() < 0.3:
            out += ["```", f"x = {rng.randint(1, 99)}", f"print('{rng.choice(_WORDS)}')", "```", ""]
    return "\n".join(out)


def _mk_plain(rng: random.Random) -> str:
    return "\n\n".join(_para(rng, unicode_p=0.3) for _ in range(rng.randint(1, 4)))


def _mk_pdfish(rng: random.Random) -> str:
    npages = rng.randint(1, 4)
    title = _words(rng, 4).title()
    out = ["%PDFISH-1.0"]
    for p in range(1, npages + 1):
        out.append(f"%PAGE {p}")
        out.append(f"<<HEADER {title}>>")
        if p == 1:
            out.append(f"#TITLE {title}")
        if rng.random() < 0.6:
            out.append(f"#H2 {_words(rng, 3).title()}")
        for _ in range(rng.randint(1, 3)):
            for _ in range(rng.randint(1, 3)):
                out.append(_sentence(rng))
            out.append("")
        out.append(f"<<FOOTER page {p} of {npages}>>")
    return base64.b64encode("\n".join(out).encode("utf-8")).decode("ascii")


def _mk_malformed(rng: random.Random) -> str:
    if rng.random() < 0.5:
        # garbled HTML — best-effort parse succeeds
        return (
            f"<div><p>{_sentence(rng)} <span>unclosed {_sentence(rng)}"
            f"<p>{_sentence(rng)}</div> stray < bracket &#xZZ; {_words(rng, 4)}"
        )
    # corrupt base64: valid alphabet + padding, decodes to non-UTF-8 bytes
    raw = bytes([0xFF, 0xFE]) + rng.randbytes(46)
    return base64.b64encode(raw).decode("ascii")


def _mk_oversize(rng: random.Random) -> str:
    filler = "overflow payload block " * (MAX_PAYLOAD_CHARS // 23 + 2)
    return filler[: MAX_PAYLOAD_CHARS + rng.randint(1, 50)]


def payload_for(seed: int, conv_idx: int, turn_idx: int) -> tuple[str, str]:
    """Deterministic (payload_class, text) for one turn."""
    rng = random.Random(f"{seed}:{conv_idx}:{turn_idx}")
    pick = rng.randrange(_TOTAL_W)
    for cum, name in _CLASS_CUM:
        if pick < cum:
            cls = name
            break
    if cls == "html_article":
        return cls, _mk_html_article(rng)
    if cls == "html_table":
        return cls, _mk_html_article(rng, with_tables=True)
    if cls == "html_linkfarm":
        return cls, _mk_linkfarm(rng)
    if cls == "markdownish":
        return cls, _mk_markdownish(rng)
    if cls == "plain":
        return cls, _mk_plain(rng)
    if cls == "pdfish_b64":
        return cls, _mk_pdfish(rng)
    if cls == "malformed":
        return cls, _mk_malformed(rng)
    if cls == "empty":
        return cls, rng.choice(["", "   \n", " \t "])
    if cls == "oversize":
        return cls, _mk_oversize(rng)
    return cls, OCR_SENTINEL + " scanned-page-blob " + _words(rng, 8)


def conv_turn_count(conv_idx: int, seed: int = DEFAULT_SEED) -> int:
    rng = random.Random(f"{seed}:nturns:{conv_idx}")
    r = rng.random()
    if r < 0.95:
        return rng.randint(2, 20)
    if r < 0.99:
        return rng.randint(50, 200)
    return rng.randint(1000, 2000)


def _role_tool(seed: int, conv_idx: int, turn_idx: int) -> tuple[str, str | None]:
    rng = random.Random(f"{seed}:role:{conv_idx}:{turn_idx}")
    r = rng.random()
    if r < 0.02:
        return "system", None
    if r < 0.12:
        return "tool", rng.choice(_TOOLS)
    return ("user", None) if turn_idx % 2 == 0 else ("assistant", None)


def gen_conv(conv_idx: int, seed: int = DEFAULT_SEED) -> list[dict]:
    """All turns of one conversation — callable independently anywhere."""
    n = conv_turn_count(conv_idx, seed)
    rows = []
    for t in range(n):
        role, tool = _role_tool(seed, conv_idx, t)
        _cls, text = payload_for(seed, conv_idx, t)
        rows.append(
            {
                "conv_id": f"conv_{conv_idx:08d}",
                "turn_idx": t,
                "role": role,
                "text": text,
                "tool": tool,
                "ts": _EPOCH + timedelta(seconds=conv_idx * 60 + t * 7),
            }
        )
    return rows


def gen_transcripts_pdf(n_convs: int, seed: int = DEFAULT_SEED):
    """Single-node pandas generation (oracle / fixtures path)."""
    import pandas as pd

    rows: list[dict] = []
    for c in range(n_convs):
        rows.extend(gen_conv(c, seed))
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    # naive UTC (matches parquet/duckdb convention; session TZ pinned UTC)
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    return pdf


def transcripts_df(spark, n_convs: int, partitions: int | None = None):
    """Distributed generator: one task generates a contiguous slice of
    conversations — this is how the bench input is produced at scale
    (no driver materialization, no shuffle)."""
    from docling_api_spark.schema import TRANSCRIPTS_SCHEMA

    def gen_part(it):
        import pandas as pd

        for pdf in it:
            for conv_idx in pdf["id"]:
                rows = gen_conv(int(conv_idx), DEFAULT_SEED)
                out = pd.DataFrame(rows)
                out["turn_idx"] = out["turn_idx"].astype("int32")
                out["ts"] = out["ts"].dt.tz_localize(None)
                yield out

    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_convs, numPartitions=parts)
    return base.mapInPandas(gen_part, schema=TRANSCRIPTS_SCHEMA)
