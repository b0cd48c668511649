"""Regenerate the frozen token→lemma table for `tokenize` mode
``reference_lemma_table`` from PUBLIC spaCy output — the P5 plug-point's
production path (reference lemmatizes with a spaCy language model,
src/data/preprocessor.py:69-72; this sandbox has no spaCy and no network,
so the repo ships curated fixtures instead — see
fusion_spark/lemma_data.py — and THIS tool is how a networked host
rebuilds the real table).

Two modes:

  1. ``--spacy`` (requires a host with spaCy + a model installed):
        python tools/make_lemma_table.py --spacy en_core_web_sm \
            --corpus /path/docs.parquet --text-col text --out lemma_en.json
     Tokenizes the corpus with the SAME whitespace+filter pipeline the
     index uses (so the table's key universe is exactly the vocabulary the
     lemma stage will see), runs each distinct surviving token through the
     spaCy pipeline IN ISOLATION (context-free by construction — the table
     can only ever be a context-free lookup, so generating it token-by-
     token makes the table exactly as good as a table can be), and writes
     {token: lemma} for every token whose lemma differs from itself.

  2. ``--from-tsv`` (offline conversion): a 2-column TSV of
     ``token<TAB>lemma`` (e.g. exported from any spaCy run elsewhere) is
     validated, normalized, and written as the same JSON shape.

Output JSON is sorted by key (deterministic bytes for fixture pinning) and
loadable straight into ``tokenize(..., mode="reference_lemma_table",
lemma_table=json.load(open(path)))``.

Determinism/size notes for 100 TB corpora: generate from the VOCABULARY
(distinct tokens), never the raw corpus — the table is vocab-sized and the
tokenize UDF ships it by closure (fine to a few M entries; beyond that,
broadcast-join the lemma column instead — see tokenize.py docstring).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _pipeline_vocab(corpus: str, text_col: str) -> list[str]:
    """Distinct tokens that SURVIVE the reference filters (punct / digit /
    stopword), i.e. exactly the strings the lemma plug-point will see."""
    from fusion_spark.session import get_spark
    from fusion_spark.tokenize import DEFAULT_STOPWORDS, _DIGIT_RE, _PUNCT_RE

    spark = get_spark(app_name="make-lemma-table")
    rows = (
        spark.read.parquet(corpus)
        .selectExpr(f"explode(split({text_col}, '\\\\s+')) AS tok")
        .filter("tok <> ''")
        .distinct()
        .collect()
    )
    spark.stop()
    out = []
    for r in rows:
        tok = r["tok"]
        if _PUNCT_RE.match(tok) or _DIGIT_RE.match(tok):
            continue
        if tok.lower() in DEFAULT_STOPWORDS:
            continue
        out.append(tok)
    return sorted(out)


def build_from_spacy(model: str, vocab: list[str]) -> dict[str, str]:
    try:
        import spacy
    except ImportError as e:  # pragma: no cover - exercised on networked hosts
        raise SystemExit(
            "spaCy is not installed in this environment (the fusion-spark "
            "sandbox is offline by design — BENCH.md 'Iceberg offline' note). "
            "Run this tool on a networked host:  pip install spacy && "
            f"python -m spacy download {model}  — or use --from-tsv with a "
            "token<TAB>lemma dump produced elsewhere."
        ) from e
    nlp = spacy.load(model, disable=["parser", "ner"])
    table: dict[str, str] = {}
    # context-free: one token per doc. pipe() batches for throughput.
    for doc in nlp.pipe(vocab, batch_size=1024):
        if len(doc) != 1:
            continue  # a "token" spaCy re-splits is not table material
        lemma = doc[0].lemma_
        if lemma and lemma != doc[0].text:
            table[doc[0].text] = lemma
    return table


def build_from_tsv(path: str) -> dict[str, str]:
    table: dict[str, str] = {}
    with open(path, encoding="utf-8") as f:
        for i, line in enumerate(f, 1):
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            parts = line.split("\t")
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise SystemExit(f"{path}:{i}: expected 'token<TAB>lemma', got {line!r}")
            tok, lemma = parts
            if " " in tok or " " in lemma:
                raise SystemExit(f"{path}:{i}: tokens/lemmas must not contain spaces")
            prev = table.get(tok)
            if prev is not None and prev != lemma:
                raise SystemExit(
                    f"{path}:{i}: conflicting lemmas for {tok!r}: {prev!r} vs "
                    f"{lemma!r} — a context-free table must be a function"
                )
            if lemma != tok:
                table[tok] = lemma
    return table


def main() -> int:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--spacy", metavar="MODEL", help="spaCy model name")
    src.add_argument("--from-tsv", metavar="TSV", help="token<TAB>lemma dump")
    ap.add_argument("--corpus", help="parquet corpus (with --spacy)")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--vocab-file", help="one token per line (alternative to --corpus)")
    ap.add_argument("--out", required=True, help="output JSON path")
    args = ap.parse_args()

    if args.spacy:
        if args.vocab_file:
            vocab = sorted(
                {ln.strip() for ln in open(args.vocab_file, encoding="utf-8") if ln.strip()}
            )
        elif args.corpus:
            vocab = _pipeline_vocab(args.corpus, args.text_col)
        else:
            raise SystemExit("--spacy needs --corpus or --vocab-file")
        table = build_from_spacy(args.spacy, vocab)
    else:
        table = build_from_tsv(args.from_tsv)

    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(dict(sorted(table.items())), f, ensure_ascii=False, indent=1)
        f.write("\n")
    print(f"wrote {len(table)} entries to {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
