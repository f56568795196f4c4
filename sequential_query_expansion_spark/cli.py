"""Index-access CLI — the `occuranceCount`/`dumpindex` analogue.

The reference's entry point 3 (occuranceCount.cpp:756-865 `main`)
dispatches single-letter commands over a read-only repository. Same
surface here over a checkpointed index directory (index/checkpoint.py
layout), as DataFrame one-liners:

  t  <term>        term stats: df, cf                 (cpp :471-507)
  tp <term>        inverted list WITH positions       (cpp :425-470)
  e  <expr>        per-EXTENT matches for an Indri count expression
                   (term / #odN / #uwN / #uw(#4(..) ..)): one
                   `doc_id weight begin end` line per match extent,
                   weight fixed at 1, end = inclusive last-token
                   position (cpp :245-269 prints the same per-extent
                   shape from env.expressionList; Indri's end is
                   exclusive — documented deviation)
  x  <expr>        total occurrence count of <expr>   (cpp :38-47)
  dx <expr>        count of docs containing <expr>    (cpp :29-36)
  fx <file>        x for every line of a file, ALL lines evaluated in
                   one batched Spark action            (cpp :191-210)
  ef <file>        matching doc names for every line, one name PER
                   MATCH EXTENT (cpp :94-130 prints one result per
                   extent); batched like fx
  efb <file>       brief form: lines are `expr:doc1,doc2,...`; prints
                   `expr:n,names-in-given-list,:orig` with n = total
                   extent count and names repeated per extent
                   (cpp :49-92); batched like fx
  sCnet <file>     stem the 2nd/3rd comma fields of each line through
                   the rule stemmer (the reference calls a licensed
                   REST stemmer here; the local cascade stands in)
                                                      (cpp :211-243)
  dcf <doc_id>     document length                    (cpp :125-150)
  dn <doc_id>      doc id -> external name            (cpp :525-536)
  di <url>         external name -> doc id            (cpp :538-549)
  dt <doc_id>      stored document text               (cpp :516-523)
  dd <doc_id>      full document record: metadata, token positions,
                   text                               (cpp :551-593)
  dm               full doc_id -> name map            (cpp :525-548)
  dcsv             every doc as `name,term sequence`  (cpp :595-630)
  dv <doc_id>      document vector (terms + tf)       (cpp :631-663)
  il [term]        inverted list dump                 (cpp :317-351)
  v                vocabulary dump                    (cpp :357-378)
  s                repository stats                   (cpp :678-698)
  vtl              validate: Σtf per doc == dl; Σdf == distinct pairs
                                                      (cpp :276-308)
  q  <text>        BM25 top-10 for an ad-hoc query
  del <id...>      tombstone documents (S14 delete; cpp :710-723)
  compact [codec]  apply tombstones + rewrite (S14 compact); codec =
                   pfor (default, serving-optimized) or varint
  m  <in1> <in2>.. merge input indexes INTO <index_dir> (cpp :700-708)

`tp`/`e`/`x`/`dx`/`fx`/`ef`/`efb` need the positional stage
(build_index_checkpointed(with_positions=True)); `dt`/`dd`/`dcsv` need
the stored-docs stage (with_docs=True). Both report a clear error when
the stage is absent.

Usage: python -m sequential_query_expansion_spark.cli <index_dir> <cmd> [args]
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

from .index.checkpoint import load_index
from .scoring.bm25 import query_term_table, score_topk
from .session import get_spark
from .util import local_frame


def _docs_table(spark, index_dir: str):
    p = os.path.join(index_dir, "docs")
    if not os.path.isdir(p):
        raise SystemExit(
            "this index has no stored-docs stage; rebuild with "
            "build_index_checkpointed(..., with_docs=True)"
        )
    return spark.read.parquet(p)


def _need_positional(idx):
    if idx.positional is None:
        raise SystemExit(
            "this index has no positional stage; rebuild with "
            "build_index_checkpointed(..., with_positions=True)"
        )
    return idx.positional


def _matches(idx, expr: str):
    """expr string -> (doc_id, matches) DataFrame via the extent
    evaluator; candidates come from posting intersections."""
    from .index.positions import expression_matches
    from .indriql import parse_count_expression

    return expression_matches(_need_positional(idx), parse_count_expression(expr))


def _expr_lines(path: str) -> list:
    seen: set = set()
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip().strip('"')
            if line and line not in seen:
                seen.add(line)
                out.append(line)
    return out


def _matches_batch(idx, exprs: list) -> dict:
    """Evaluate every expression in ONE Spark action (the reference
    batches the whole statement file into one pass, occuranceCount.cpp
    :191-210). Returns {expr: [(doc_id, matches), ...] doc_id-sorted}."""
    from .index.positions import expression_matches_batch
    from .indriql import parse_count_expression

    trees = [
        (i, parse_count_expression(ex)) for i, ex in enumerate(exprs)
    ]
    rows = expression_matches_batch(_need_positional(idx), trees).collect()
    out: dict = {ex: [] for ex in exprs}
    for r in rows:
        out[exprs[r["expr_id"]]].append((r["doc_id"], r["matches"]))
    for v in out.values():
        v.sort()
    return out


def _urls(idx, doc_ids) -> dict:
    if not doc_ids:
        return {}
    rows = idx.docmap.filter(
        F.col("doc_id").isin([int(d) for d in doc_ids])
    ).collect()
    return {r["doc_id"]: r["url"] for r in rows}


def main(argv=None) -> int:
    argv = argv if argv is not None else sys.argv[1:]
    if len(argv) < 2:
        print(__doc__)
        return 2
    index_dir, cmd, *args = argv

    if cmd == "sCnet":
        # `key,phrase a,phrase b` per line -> `key,stems a,stems b,`
        # (print_expression_cnet_stem, occuranceCount.cpp:211-243;
        # r.processTerm == the engine's rule stemmer here). Pure text
        # processing — needs neither the index nor a Spark session.
        from .functions.text import stem_py

        with open(args[0]) as f:
            for raw in f:
                raw = raw.strip()
                if not raw:
                    continue
                parts = raw.split(",")
                out = [parts[0]] + [
                    " ".join(stem_py(w) for w in p.split() if w) + " "
                    for p in parts[1:3]
                ]
                print(",".join(out) + ",")
        return 0

    spark = get_spark("sqe-cli")

    if cmd == "del":
        from .index.maintenance import delete_docs

        delete_docs(spark, index_dir, [int(a) for a in args])
        print(f"tombstoned {len(args)} docs (run `compact` to apply)")
        return 0
    if cmd == "compact":
        from .index.maintenance import compact_index

        codec = args[0] if args else "pfor"
        idx = compact_index(spark, index_dir, codec=codec)
        print(f"compacted ({codec}); {idx.n_docs} docs remain")
        return 0
    if cmd == "m":
        from .index.maintenance import merge_indexes

        if not args:
            print("m needs at least one input index dir")
            return 2
        idx = merge_indexes(spark, index_dir, list(args))
        print(f"merged {len(args)} indexes into {index_dir}; "
              f"{idx.n_docs} docs")
        return 0

    idx = load_index(spark, index_dir)

    if cmd == "t":
        idx.vocab.filter(F.col("term") == args[0]).show()
    elif cmd == "tp":
        # `term stem termCount totalCount` header, then per-doc
        # `doc_id n_positions dl pos...` (cpp :425-470). No stemming at
        # build time -> stem == term.
        term = args[0]
        total = idx.vocab.agg(F.sum("cf")).head()[0]
        cf_row = idx.vocab.filter(F.col("term") == term).head()
        print(f"{term} {term} {cf_row['cf'] if cf_row else 0} {total}")
        pos = (
            _need_positional(idx)
            .filter(F.col("term") == term)
            .join(idx.doc_len, "doc_id")
            .orderBy("doc_id")
            .select("doc_id", "positions", "dl")
        )
        for r in pos.toLocalIterator():
            ps = " ".join(str(p) for p in r["positions"])
            print(f"{r['doc_id']} {len(r['positions'])} {r['dl']} {ps}")
    elif cmd == "e":
        from .index.positions import expression_extents
        from .indriql import parse_count_expression

        expr = " ".join(args)
        hdr = idx.vocab.agg(F.sum("cf")).head()[0]
        print(f"{expr} {hdr} {idx.n_docs}")
        # one line PER MATCH EXTENT `doc weight begin end`, like the
        # reference's env.expressionList print (cpp :245-269); weight
        # is 1 for count expressions, end is the inclusive last-token
        # position — no row cap
        rows = (
            expression_extents(
                _need_positional(idx), parse_count_expression(expr)
            )
            .orderBy("doc_id", "begin", "end")
            .toLocalIterator()
        )
        for r in rows:
            print(f"{r['doc_id']}\t1\t{r['begin']}\t{r['end']}")
    elif cmd == "x":
        expr = " ".join(args)
        n = _matches(idx, expr).agg(F.sum("matches")).head()[0] or 0
        print(f"{expr}:{n}")
    elif cmd == "dx":
        expr = " ".join(args)
        print(f"{expr}:{_matches(idx, expr).count()}")
    elif cmd == "fx":
        lines = _expr_lines(args[0])
        per = _matches_batch(idx, lines)
        for line in lines:
            print(f"{line}:{sum(m for _, m in per[line])}")
    elif cmd == "ef":
        # one name per match EXTENT (the reference's expressionList
        # yields one result per extent, so a doc with m matches prints
        # m times — cpp :94-130)
        lines = _expr_lines(args[0])
        per = _matches_batch(idx, lines)
        urls = _urls(
            idx, {d for v in per.values() for d, _ in v}
        )
        for line in lines:
            names = [
                urls[d] for d, m in per[line] for _ in range(m)
            ]
            print(f"{line}:" + ",".join(names) + ",")
    elif cmd == "efb":
        # lines are `expr:docno1,docno2,...` — print TOTAL EXTENT count
        # and the per-extent names restricted to the given list
        # (cpp :49-92: the leading number is extent count and names
        # repeat per extent)
        raws = _expr_lines(args[0])
        exprs = [raw.partition(":")[0] for raw in raws]
        # two raw lines may share an expression with different given
        # lists; evaluate each distinct expression once
        per = _matches_batch(idx, list(dict.fromkeys(exprs)))
        urls = _urls(idx, {d for v in per.values() for d, _ in v})
        for raw, expr in zip(raws, exprs):
            given = raw.partition(":")[2]
            given_set = {g for g in given.split(",") if g}
            total = sum(m for _, m in per[expr])
            hit = [
                urls[d]
                for d, m in per[expr]
                if urls[d] in given_set
                for _ in range(m)
            ]
            print(f"{expr}:{total}," + ",".join(hit) + f",:{given}")
    elif cmd == "dcf":
        idx.doc_len.filter(F.col("doc_id") == int(args[0])).show()
    elif cmd == "dn":
        idx.docmap.filter(F.col("doc_id") == int(args[0])).show(truncate=False)
    elif cmd == "di":
        idx.docmap.filter(F.col("url") == args[0]).show(truncate=False)
    elif cmd == "dt":
        row = (
            _docs_table(spark, index_dir)
            .filter(F.col("doc_id") == int(args[0]))
            .head()
        )
        print(row["text"] if row else f"no document {args[0]}")
    elif cmd == "dd":
        doc_id = int(args[0])
        row = (
            _docs_table(spark, index_dir)
            .filter(F.col("doc_id") == doc_id)
            .head()
        )
        if row is None:
            print(f"no document {doc_id}")
            return 1
        name = idx.docmap.filter(F.col("doc_id") == doc_id).head()
        print("\n--- Metadata ---\n")
        print(f"docno: {name['url'] if name else doc_id}")
        for k in row.asDict():
            if k not in ("doc_id", "text"):
                print(f"{k}: {row[k]}")
        from .functions.text import tokenize_py

        print("\n--- Positions ---\n")
        for i, tok in enumerate(tokenize_py(row["text"])):
            print(f"{i} {tok}")
        print("\n--- Text ---\n")
        print(row["text"])
    elif cmd == "dm":
        for r in idx.docmap.orderBy("doc_id").toLocalIterator():
            print(f"{r['doc_id']} {r['url']}")
    elif cmd == "dcsv":
        # `name,term sequence` per doc (cpp :595-630) — the term sequence
        # is the tokenized text, which IS the indexed stem sequence
        # (no build-time stemming; [OOV] never occurs: every token is
        # indexed)
        from .functions.text import tokenize_col

        rows = (
            _docs_table(spark, index_dir)
            .join(idx.docmap, "doc_id")
            .orderBy("doc_id")
            .select("url", tokenize_col(F.col("text")).alias("toks"))
        )
        for r in rows.toLocalIterator():
            print(f"{r['url']}," + " ".join(r["toks"]) + " ")
    elif cmd == "dv":
        (
            idx.postings_flat.filter(F.col("doc_id") == int(args[0]))
            .orderBy("term")
            .show(100, truncate=False)
        )
    elif cmd == "il":
        df = idx.postings_flat
        if args:
            df = df.filter(F.col("term") == args[0])
        df.orderBy("term", "doc_id").show(50)
    elif cmd == "v":
        idx.vocab.orderBy("term").show(100)
        tot = idx.vocab.agg(F.sum("cf"), F.count("*")).head()
        print(f"TOTAL:{tot[0]}:{tot[1]}")
    elif cmd == "s":
        print(
            f"documents:\t{idx.n_docs}\n"
            f"unique terms:\t{idx.vocab.count()}\n"
            f"total terms:\t{idx.vocab.agg(F.sum('cf')).head()[0]}\n"
            f"avgdl:\t{idx.avgdl:.4f}"
        )
    elif cmd == "vtl":
        bad_dl = (
            idx.postings_flat.groupBy("doc_id")
            .agg(F.sum("tf").alias("tf_sum"))
            .join(idx.doc_len, "doc_id")
            .filter(F.col("tf_sum") != F.col("dl"))
            .count()
        )
        pairs = idx.postings_flat.select("term", "doc_id").distinct().count()
        df_sum = idx.vocab.agg(F.sum("df")).head()[0]
        ok = bad_dl == 0 and pairs == df_sum
        print(f"doc-length mismatches: {bad_dl}")
        print(f"sum(df)={df_sum} distinct(term,doc)={pairs}")
        print("VALID" if ok else "INVALID")
        return 0 if ok else 1
    elif cmd == "q":
        queries = local_frame(
            spark, [("cli", " ".join(args))], "qid string, text string"
        )
        score_topk(idx, query_term_table(queries), k=10).orderBy("rank").show(
            truncate=False
        )
    else:
        print(__doc__)
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
