"""Deterministic synthetic transcripts generator.

BASELINE.json gives the input table shape (``input_hint``); no external data
is allowed, so tests and benchmarks synthesize the transcripts table here
with a fixed seed. The generator deliberately produces the dirt the
reference operators must handle (FIXTURES.md §1): extra whitespace, emoji,
HTML tags/entities, URLs, ``lorem ipsum``, repeated punctuation, ALL-CAPS
runs, ``{}``-heavy spans, bullet lines, exact duplicates, near-duplicate
paraphrases (MinHash targets), empty/whitespace-only strings — plus
Zipf-skewed conversation sizes (skew/salting tests), out-of-order
timestamps (watermark tests) and intra-conversation gaps larger than any
reasonable session gap (session-window tests).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_WORDS = (
    "agent stream window state join merge table query plan shuffle filter "
    "broadcast partition executor task stage token model prompt answer tool "
    "call result error retry cache batch epoch commit offset key value row "
    "column schema type cast parse emit fold scan sort group count sum"
).split()

_EMOJI = ["😀", "🚀", "🔥", "✨", "🎉"]
_TOOLS = ["search", "calculator", "browser", "python", "sql"]

# Dirt templates keyed by kind; {w*} slots get random words.
_DIRT = [
    "  {w0}   {w1}\t{w2}  \n {w3}  ",  # extra whitespace
    "{w0} {w1} 😀🚀 {w2} 🔥 {w3}",  # emoji
    "{w0} <div class=x>{w1}</div> <br/> {w2}",  # html tags
    "{w0} &nbsp; {w1} &lt;{w2}&gt; &amp; {w3}",  # html entities
    "see https://example.com/{w0}?q={w1} and http://t.co/{w2} {w3}",  # urls
    "Lorem ipsum dolor sit amet {w0} lorem  ipsum {w1}",  # lorem ipsum
    "{w0}!!! {w1}??? {w2}...... {w3},,,",  # repeated punctuation
    "{w0} THIS IS VERY IMPORTANT {w1} READ NOW {w2}",  # all-caps runs
    "{{{w0}: {{{w1}: 1}}, {w2}: {{}} }} {w3}",  # curly-heavy
    "- {w0} {w1}\n- {w2}\n* {w3}\n• more",  # bullet lines
    "{w0} {w1} end with colon:",  # colon end
    "{w0} line one...\n{w1} line two……\n{w2} ok",  # ellipsis line ends
    "{w0} 身份证 id number 12345 {w1}",  # id-card-ish terms
    "{w0} watermark: confidential draft {w1}",  # watermark words
    "enable javascript {w0}\njavascript required {w1}\n{w2}",  # javascript lines
    "{w0}  control  chars {w1}",  # special characters
    "12345 67890 {w0} 4242 4242 {w1} 999",  # numeric heavy
]


def _rng(seed: int) -> np.random.Generator:
    return np.random.default_rng(seed)


def _clean_sentence(rng: np.random.Generator, n_words: int) -> str:
    idx = rng.integers(0, len(_WORDS), size=n_words)
    return " ".join(_WORDS[i] for i in idx)


def make_transcripts(
    n_turns: int = 10_000,
    n_convs: int | None = None,
    seed: int = 42,
    dirty_frac: float = 0.25,
    dup_frac: float = 0.08,
    near_dup_frac: float = 0.06,
    empty_frac: float = 0.02,
    late_frac: float = 0.05,
    start_ts: str = "2024-01-01",
) -> pd.DataFrame:
    """Build a deterministic transcripts pandas DataFrame.

    Conversation sizes follow a Zipf-like distribution: a few conversations
    hold a large share of turns — the skew the streaming runtime must salt
    around. Roles alternate user → assistant with occasional tool turns,
    mirroring the reference's User/Assistant/Tool protocol
    (/root/reference/dataflow/operators/conversations/func_call_operators.py:517-567).
    """
    rng = _rng(seed)
    if n_convs is None:
        n_convs = max(4, n_turns // 12)

    # Zipf-skewed conversation sizes normalized to exactly n_turns.
    raw = rng.zipf(1.5, size=n_convs).astype(np.float64)
    sizes = np.maximum(1, np.round(raw / raw.sum() * n_turns)).astype(np.int64)
    while sizes.sum() > n_turns:
        sizes[np.argmax(sizes)] -= 1
    while sizes.sum() < n_turns:
        sizes[rng.integers(0, n_convs)] += 1
    sizes = sizes[sizes > 0]

    conv_ids: list[str] = []
    turn_idxs: list[int] = []
    roles: list[str] = []
    tools: list[str] = []
    ts_offsets: list[float] = []
    for c, size in enumerate(sizes):
        cid = f"conv{c:06d}"
        base = float(rng.uniform(0, 86400 * 7))
        t = base
        for i in range(int(size)):
            conv_ids.append(cid)
            turn_idxs.append(i)
            if i % 2 == 0:
                roles.append("user")
                tools.append("")
            elif rng.random() < 0.2:
                roles.append("tool")
                tools.append(_TOOLS[int(rng.integers(0, len(_TOOLS)))])
            else:
                roles.append("assistant")
                tools.append("")
            # Monotone with jitter; occasional gap > 30 min for session
            # windows.
            gap = float(rng.exponential(20.0)) + 1.0
            if rng.random() < 0.03:
                gap += float(rng.uniform(1900, 7200))
            t += gap
            ts_offsets.append(t)

    n = len(conv_ids)
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        k = kind[i]
        if k < empty_frac:
            texts.append("" if rng.random() < 0.5 else "   \t  ")
        elif k < empty_frac + dirty_frac:
            tpl = _DIRT[int(rng.integers(0, len(_DIRT)))]
            words = {f"w{j}": _WORDS[int(rng.integers(0, len(_WORDS)))] for j in range(4)}
            texts.append(tpl.format(**words))
        else:
            texts.append(_clean_sentence(rng, int(rng.integers(5, 60))))

    # Exact duplicates: copy earlier texts verbatim.
    n_dup = int(n * dup_frac)
    if n_dup and n > 10:
        src = rng.integers(0, n, size=n_dup)
        dst = rng.integers(0, n, size=n_dup)
        for s, d in zip(src, dst):
            if s != d:
                texts[int(d)] = texts[int(s)]

    # Near-duplicates: paraphrase = small perturbation of an earlier text.
    n_near = int(n * near_dup_frac)
    if n_near and n > 10:
        src = rng.integers(0, n, size=n_near)
        dst = rng.integers(0, n, size=n_near)
        for s, d in zip(src, dst):
            base_text = texts[int(s)]
            if len(base_text) > 40:
                texts[int(d)] = base_text + " " + _WORDS[int(rng.integers(0, len(_WORDS)))]

    df = pd.DataFrame(
        {
            "conv_id": pd.array(conv_ids, dtype="string"),
            "turn_idx": np.asarray(turn_idxs, dtype=np.int32),
            "role": pd.array(roles, dtype="string"),
            "text": pd.array(texts, dtype="string"),
            "tool": pd.array(tools, dtype="string"),
        }
    )
    ts = pd.Timestamp(start_ts) + pd.to_timedelta(np.asarray(ts_offsets), unit="s")
    # Late / out-of-order arrivals: shift a fraction of events backwards.
    late_mask = rng.random(n) < late_frac
    late_shift = pd.to_timedelta(rng.uniform(60, 900, size=n), unit="s")
    df["ts"] = ts.where(~late_mask, ts - late_shift).floor("ms")
    return df


# rows per parquet row group for generated datasets (r8): ~2k rows of
# ~70-byte turns ≈ 150 KB per group — fine-grained enough that byte-range
# splits subdivide each file, coarse enough that row-group overhead stays
# negligible. Real 100-TB inputs arrive with many files/groups already;
# this only affects locally generated fixtures.
_ROW_GROUP_SIZE = 2048


def write_transcripts_parquet(
    path: str, n_turns: int, seed: int = 42, n_files: int = 1, **kw
) -> str:
    """Materialize a transcripts parquet dataset at ``path`` (idempotent).

    ``n_files > 1`` shards the table so file-based streaming sources get
    multiple micro-batch inputs and scan parallelism isn't file-bound.

    Files are written with small row groups (``_ROW_GROUP_SIZE`` rows,
    r8): a pandas/pyarrow default writes ONE row group per file, which
    makes the file unsplittable in practice — Spark assigns a byte-range
    split per task but a task only reads row groups whose midpoint falls
    in its range, so a 16-file table caps every scan stage at 16 tasks
    regardless of core count (guide §6: input split size). Multiple row
    groups let Spark's byte-range splits actually subdivide the files: a
    split is total bytes / ``spark.default.parallelism`` (2x the cores,
    session.py), capped by ``spark.sql.files.maxPartitionBytes`` (16m)
    and floored at ``spark.sql.files.openCostInBytes`` (4 MB default).
    The marker records the layout; a cache written
    by an older layout is regenerated in place (same data — seed-derived
    — different physical chunking)."""
    import os

    layout = f"n_turns={n_turns} seed={seed} n_files={n_files} rg={_ROW_GROUP_SIZE}"
    marker = os.path.join(path, "_DFS_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == layout:
                return path
        # stale layout: rewrite the data files under the current chunking
        os.remove(marker)
    os.makedirs(path, exist_ok=True)
    pdf = make_transcripts(n_turns=n_turns, seed=seed, **kw)
    # Spark cannot read TIMESTAMP(NANOS) parquet — store microseconds.
    pdf = pdf.assign(ts=pdf["ts"].astype("datetime64[us]"))
    if n_files <= 1:
        pdf.to_parquet(
            os.path.join(path, "transcripts.parquet"), index=False,
            row_group_size=_ROW_GROUP_SIZE,
        )
    else:
        step = len(pdf) // n_files
        for i in range(n_files):
            lo = i * step
            hi = len(pdf) if i == n_files - 1 else (i + 1) * step
            pdf.iloc[lo:hi].to_parquet(
                os.path.join(path, f"transcripts_{i:03d}.parquet"), index=False,
                row_group_size=_ROW_GROUP_SIZE,
            )
    with open(marker, "w") as f:
        f.write(layout + "\n")
    return path
