#!/usr/bin/env python3
"""Write an sf fixture whose `documents` text stresses the tokenizer rule.

    python3 scripts/adversarial_fixture.py <sfDir> <outDir>

<outDir> gets a symlink to each of the nine other tables of <sfDir> and a new
`documents.parquet` with the same five columns (doc_id, text, lang, source,
n_chars = code points). The rows keep the source's doc_id, lang, source and
words; the text is mutated, seeded and deterministic:
  - every code point U+0000..U+02FF is spliced into some word, once;
  - U+0130 (capital I with dot) and U+212A (Kelvin sign), alone and in words;
  - separators that are and are not Java's `\\s`: runs of U+000B, tab, form
    feed, CR/LF, NBSP, U+2028, U+001C;
  - astral chars (UTF-16 surrogate pairs) inside and next to words;
  - empty and whitespace-only rows.
Check the oracle on it with `scripts/check.sh <outDir> <verifyDir>`.
"""
import os
import random
import sys

import duckdb

SEPARATORS = ["\x0b", "\x0b\x0b\x0b", " \x0b ", "\t", "\x0c", "\r\n", "\n",
              "\u00a0", " \u00a0 ", "\u2028", "\x1c", "  "]
SPECIALS = ["\u0130", "\u212a", "K\u0130x", "\U0001F600", "\U00010348",
            "\u00c9", "\u00df", "\u02bc"]
BLANK_ROWS = ["", " ", "   ", "\x0b", "\t \x0b\n", "\u00a0", "\u2028"]
SWEEP = 0x300  # U+0000..U+02FF


def is_blank(doc_id):
    return 7 <= doc_id % 100 < 7 + len(BLANK_ROWS)


def mutate(doc_id, text, sweep, rng):
    if is_blank(doc_id):
        return BLANK_ROWS[doc_id % 100 - 7]
    words = text.split(" ")
    for cp in sweep:
        i = rng.randrange(len(words))
        j = rng.randrange(len(words[i]) + 1)
        words[i] = words[i][:j] + chr(cp) + words[i][j:]
    for i, w in enumerate(words):
        if rng.random() < 0.05:
            s = rng.choice(SPECIALS)
            words[i] = s + w if rng.random() < 0.5 else w + s
    out = words[0]
    for w in words[1:]:
        out += (rng.choice(SEPARATORS) if rng.random() < 0.15 else " ") + w
    if doc_id % 10 == 3:
        out = rng.choice(SEPARATORS) + out + rng.choice(SEPARATORS)
    return out


def main(sf_dir, out_dir):
    sf_dir, out_dir = os.path.abspath(sf_dir), os.path.abspath(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet") and name != "documents.parquet":
            link = os.path.join(out_dir, name)
            if os.path.lexists(link):
                os.remove(link)
            os.symlink(os.path.join(sf_dir, name), link)
    con = duckdb.connect()
    src = con.execute(
        "SELECT doc_id, text, lang, source FROM read_parquet(?) ORDER BY doc_id",
        [os.path.join(sf_dir, "documents.parquet")]).fetchall()
    # deal the sweep's code points round-robin over the non-blank rows
    hosts = [r[0] for r in src if not is_blank(r[0])]
    sweep = {d: [] for d in hosts}
    for cp in range(SWEEP):
        sweep[hosts[cp % len(hosts)]].append(cp)
    rng = random.Random(2016)
    rows = []
    for doc_id, text, lang, source in src:
        t = mutate(doc_id, text, sweep.get(doc_id, []), rng)
        rows.append((doc_id, t, lang, source, len(t)))
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
                "source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    out = os.path.join(out_dir, "documents.parquet")
    con.execute(f"COPY (SELECT * FROM documents ORDER BY doc_id) TO '{out}' (FORMAT PARQUET)")
    odd = sum(1 for r in rows if any(not 0x20 <= ord(ch) <= 0x7e for ch in r[1]))
    print(f"wrote {out}: {len(rows)} rows, {odd} with a char outside 0x20-0x7E")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
