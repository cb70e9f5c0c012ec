#!/usr/bin/env python3
"""Build the adversarial-unicode mirror fixture (VERDICT r5 item #8).

Copies /root/testdata/sf0.001 to the target dir, rewriting
``documents.text`` so that a deterministic subset of rows carries
non-ASCII case-fold edge material (Turkish dotted I, sharp s, final
sigma, full-width digits, combining accents, emoji, NBSP, CRLF) spliced
BETWEEN the original ASCII words. Every known engine-divergence seam —
Java full case mapping vs DuckDB/utf8proc 1:1 lower(), regex class
behavior on astral chars, whitespace classes — is exercised by some row,
while other rows stay pure ASCII so the sweep also checks mixed data.

Usage: python tools/unicode_fixture.py [target_dir | --out target_dir]  (default
/tmp/sf_unicode) — then ``python tools/gate_mirror.py --sf-dir <target>``.
"""

from __future__ import annotations

import argparse
import shutil
import sys
from pathlib import Path

import duckdb

SRC = Path("/root/testdata/sf0.001")

# one snippet per divergence seam; cycled by doc_id
SNIPPETS = [
    "İstanbul ıssız I İİ",             # U+0130/U+0131: Java 1:2 lower mapping
    "STRASSE Straße ẞß",               # sharp s, capital sharp s
    "ΣΙΣΥΦΟΣ σίσυφος τέλος",           # greek incl. final sigma
    "ǄUNGLA ǅungla ǆ",                 # titlecase digraphs
    "ＡＢＣ ｄｅｆ １２３",               # full-width letters/digits
    "café café CAFÉ",            # precomposed vs combining accent
    "ÅNGSTRÖM Ångstrom",          # angstrom sign U+212B
    "KELVIN kelvin K",            # kelvin sign U+212A
    "emoji 😀🌍 astral 𝐛𝐨𝐥𝐝",          # astral plane (surrogate pairs)
    "nb sp thin space",      # exotic whitespace
    "crlf\r\nline\rmix\ttab",          # control whitespace
    "Ⱥⱥ Ⱦȿ ⅣⅻⅣ",                       # odd latin + roman numerals
    # contains()-class seams: Java lower('İ') = i+combining-dot breaks
    # an ASCII needle match that DuckDB's 1:1 lower would make
    "JAVASCRİPT LOREM İPSUM wİth",
    "javascrİpt lorem İpsum the İ",
    # duplicate CRLF-terminated lines: line-identity + per-line char
    # sums diverge if either engine splits lines on bare LF only
    "dup crlf line one two three.\r\ndup crlf line one two three."
    "\r\ndup crlf line one two three.",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("target", nargs="?", help="target directory")
    ap.add_argument("--out", help="target directory (as permuted_fixture.py)")
    args = ap.parse_args()
    if args.target and args.out:
        ap.error("give the target directory once: positional or --out")
    dst = Path(args.out or args.target or "/tmp/sf_unicode")
    dst.mkdir(parents=True, exist_ok=True)
    for p in SRC.glob("*.parquet"):
        if p.stem != "documents":
            shutil.copyfile(p, dst / p.name)
    con = duckdb.connect()
    cases = " ".join(
        f"WHEN {i} THEN '{s.replace(chr(39), chr(39) * 2)}'"
        for i, s in enumerate(SNIPPETS))
    # every 3rd doc gets a snippet spliced mid-text (after the first
    # word) so tokens both precede and follow the non-ASCII material;
    # every 7th doc gets non-ASCII spliced into SOURCE — source feeds
    # the synthesized URL column (corpus_url_canonical), so this proves
    # the url host/scheme ASCII-translate fold on a host that carries
    # U+0130 and mixed-case ASCII (r6 ADVICE: lower() on a non-ASCII
    # host would hash-diverge between Java and utf8proc).
    # SELECT * REPLACE keeps every column the testdata may gain later
    con.execute(f"""
        COPY (
          SELECT * REPLACE (
                 CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL THEN
                   concat(split_part(text, ' ', 1), ' ',
                          CASE (doc_id // 3) % {len(SNIPPETS)} {cases} END,
                          ' ', text)
                 ELSE text END AS text,
                 CASE WHEN doc_id % 7 = 2 AND source IS NOT NULL THEN
                   concat(source, 'İş-Straße-CAFÉ')
                 ELSE source END AS source)
          FROM read_parquet('{SRC}/documents.parquet')
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
    """)
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{dst}/documents.parquet') "
        "WHERE text != trim(text, ' ') OR regexp_matches(text, '[^\\x00-\\x7F]')"
    ).fetchone()[0]
    print(f"wrote {dst} ({n} docs carry non-ASCII)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
