"""csvb CLI — subcommand/flag/default parity with the reference
(reference csvb/src/bin/csvb.rs:6-19,25-121,168-215):

  csvb haiku [--all]
  csvb exec     --csv PATH... [--table-name tbl] [--memory-pool-bytes N] QUERY
  csvb serve    --csv PATH... [--table-name tbl] [ADDRESS=127.0.0.1:5432]
  csvb federate --table-name NAME --shard-addresses pg://... [ADDRESS]

beyond-reference subcommands (no csvb equivalent):

  csvb export --parquet PATH [--shards N] [--id-col c]
      [--format parquet|jsonl|tar] OUT_DIR
      deterministic sharded corpus export (operators.splits);
      ``tar`` emits WebDataset-style sample archives + md5 manifest
  csvb ingest --source DIR --corpus DIR --index DIR --checkpoint DIR
      streaming corpus ingest (streaming.ingest)
  csvb card [--histogram] / csvb shard --method hash|snake
      dataset-card summary + length histogram; shard assignment with
      per-shard doc/weight summary (hash or size-balanced snake deal)
  (and: dedup / diff / drift / expect / profile / train-filter /
   score / sample / clean [--html] / quota / skew / overlap /
   decontam [--method exact|bloom] — each surfacing the operator of
   the same name end to end)
  csvb planlint [--csv|--parquet|--json PATH...] [--explain] QUERY
      lint the query's physical plan for scale hazards without
      executing it (plans/lint.py); exit 1 when findings exist, so
      it slots into CI pipelines as a query gate

``exec``/``serve`` also accept ``--parquet PATH...`` / ``--json
PATH...`` in place of ``--csv`` (bonus formats; the reference wires
only CsvFormat, lib.rs:42).

plus ``--log-levels MODULE:LEVEL,...`` (reference csvb.rs:123-166).

``exec`` output is the collect-and-pretty-print sink (reference
csvb/src/lib.rs:101-113). ``serve`` starts the Postgres wire-protocol
front-end over ``spark.sql`` (csvb_spark.server.pgwire).
"""

from __future__ import annotations

import argparse
import logging
import sys

DEFAULT_MEMORY_POOL_BYTES = 10 * 1024**3  # reference csvb.rs:16-18
DEFAULT_TABLE_NAME = "tbl"  # reference csvb.rs:44-46
DEFAULT_SERVE_ADDRESS = "127.0.0.1:5432"  # reference csvb.rs:77-79


def _parse_log_levels(spec: str | None) -> list[tuple[str, str]]:
    """``mod:level[,mod:level...]`` — reference as_level_pairs
    (csvb.rs:123-166). Default: csvb at DEBUG."""
    if not spec:
        return [("csvb", "DEBUG")]
    pairs: list[tuple[str, str]] = []
    for part in spec.split(","):
        mod, _, level = part.partition(":")
        if not mod or not level:
            raise ValueError(f"bad --log-levels entry {part!r} (want MODULE:LEVEL)")
        pairs.append((mod, level.upper()))
    return pairs


def initialize_logging(spec: str | None) -> None:
    logging.basicConfig(
        stream=sys.stderr, format="%(asctime)s %(levelname)s %(name)s %(message)s"
    )
    for mod, level in _parse_log_levels(spec):
        logging.getLogger(mod).setLevel(level)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="csvb", description="csvb_spark CLI")
    p.add_argument("--log-levels", default=None, help="MODULE:LEVEL[,MODULE:LEVEL]")
    p.add_argument(
        "--memory-pool-bytes",
        type=int,
        default=DEFAULT_MEMORY_POOL_BYTES,
        help="session memory budget (default 10 GiB)",
    )
    sub = p.add_subparsers(dest="command", required=True)

    ph = sub.add_parser("haiku", help="print a csv haiku")
    ph.add_argument("--all", action="store_true", dest="print_all")

    pe = sub.add_parser("exec", help="run one SQL query over direct table(s)")
    pe.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pe.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pe.add_argument("--json", action="append", default=[], metavar="PATH")
    pe.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pe.add_argument("query")

    pl = sub.add_parser(
        "planlint",
        help="lint a query's physical plan for scale hazards "
        "(cartesian products, unbounded nested-loop joins, row-wise "
        "Python UDFs) without executing it",
    )
    pl.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pl.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pl.add_argument("--json", action="append", default=[], metavar="PATH")
    pl.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pl.add_argument(
        "--explain",
        action="store_true",
        help="also print the formatted physical plan",
    )
    pl.add_argument("query")

    ps = sub.add_parser(
        "serve",
        help="serve the Postgres wire protocol",
        description=(
            "Serve the table over the Postgres wire protocol. A table "
            "under 16 MiB is parsed once into one cached partition. A "
            "session whose registered tables are all such partitions "
            "runs interpreted, compiling no code; the first CREATE, "
            "DROP or ALTER turns code generation back on for good."
        ),
    )
    ps.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    ps.add_argument("--parquet", action="append", default=[], metavar="PATH")
    ps.add_argument("--json", action="append", default=[], metavar="PATH")
    ps.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    ps.add_argument("address", nargs="?", default=DEFAULT_SERVE_ADDRESS)

    px = sub.add_parser(
        "export",
        help="deterministic sharded corpus export (+ manifest to stdout)",
    )
    px.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    px.add_argument("--parquet", action="append", default=[], metavar="PATH")
    px.add_argument("--json", action="append", default=[], metavar="PATH")
    px.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    px.add_argument("--id-col", default="doc_id")
    px.add_argument("--shards", type=int, default=16)
    px.add_argument("--seed", type=int, default=42)
    px.add_argument("--max-records-per-file", type=int, default=None)
    px.add_argument(
        "--format",
        dest="export_format",
        choices=["parquet", "jsonl", "tar"],
        default="parquet",
    )
    px.add_argument("out_dir")

    pi = sub.add_parser(
        "ingest",
        help="stream document batches into a deduplicated corpus + band index",
    )
    pi.add_argument("--source", required=True, help="dir of arriving parquet batches")
    pi.add_argument("--corpus", required=True, help="output corpus dir (append)")
    pi.add_argument("--index", required=True, help="band-index dir (append)")
    pi.add_argument("--checkpoint", required=True)
    pi.add_argument("--min-quality", type=float, default=0.5)
    pi.add_argument("--min-jaccard", type=float, default=0.5)
    pi.add_argument(
        "--gopher-gate",
        action="store_true",
        help="also require the Gopher quality-rule bundle to pass",
    )
    pi.add_argument(
        "--gopher-min-words",
        type=int,
        default=50,
        help="word-count floor for the Gopher gate (Gopher default 50)",
    )
    pi.add_argument(
        "--classifier-threshold",
        type=float,
        default=None,
        help="also require the hashed linear classifier score to exceed "
        "this margin (omit to disable the model gate)",
    )
    pi.add_argument(
        "--lm-model",
        default=None,
        help="bigram LM parquet dir (train-filter --method lm); enables "
        "the perplexity gate",
    )
    pi.add_argument(
        "--max-ppl",
        type=float,
        default=None,
        help="perplexity ceiling for the LM gate (requires --lm-model)",
    )
    pi.add_argument(
        "--lm-smoothing",
        choices=("addk", "kn", "sb", "jm"),
        default="addk",
        help="LM gate smoothing: add-k (default), interpolated "
        "Kneser-Ney, stupid backoff, or Jelinek-Mercer (sb needs a "
        "TRIGRAM --lm-model; addk/kn/jm need a bigram one)",
    )
    pi.add_argument(
        "--url-col",
        default=None,
        help="URL column for the per-domain admission quota (use with "
        "--domain-quota and --quota-dir)",
    )
    pi.add_argument(
        "--domain-quota",
        type=int,
        default=None,
        help="max docs admitted per registered domain, counted across "
        "all batches",
    )
    pi.add_argument(
        "--quota-dir",
        default=None,
        help="persisted per-domain count table (append; the quota's "
        "cross-batch state)",
    )
    pi.add_argument(
        "--dsir-weights",
        default=None,
        help="DSIR weight table dir (train-filter --method dsir) for "
        "the domain-relevance gate (use with --dsir-min-avg)",
    )
    pi.add_argument(
        "--dsir-min-avg",
        type=float,
        default=None,
        help="DSIR gate: keep documents whose per-feature importance "
        "(log_importance / n_features) is >= this",
    )
    pi.add_argument(
        "--decontam-eval",
        default=None,
        help="eval-suite parquet dir for the decontamination gate: "
        "documents sharing char k-grams with it are rejected (use "
        "with --decontam-min-shared)",
    )
    pi.add_argument(
        "--decontam-min-shared",
        type=int,
        default=None,
        help="decontamination gate: reject documents sharing >= this "
        "many distinct grams with the eval suite as a whole — the "
        "SUITE-WIDE union of grams, NOT per-eval-doc pairs like "
        "'csvb decontam'/contamination_check, so the same number is "
        "a STRICTER gate here (a doc sharing one gram with each of "
        "N eval docs counts N). Bloom-counted, never under-counts",
    )
    pi.add_argument(
        "--decontam-k",
        type=int,
        default=None,
        help="k-gram width for the decontamination gate (default: 8 "
        "for --decontam-unit char, 13 for word)",
    )
    pi.add_argument(
        "--decontam-unit",
        choices=["char", "word"],
        default="char",
        help="decontamination gram unit, like `decontam --unit`: char "
        "k-grams or full-window word k-grams (the 13-gram rule)",
    )

    pd = sub.add_parser(
        "diff",
        help="snapshot diff of two corpus versions (status counts + rows)",
    )
    pd.add_argument("--old", required=True, help="old snapshot parquet path")
    pd.add_argument("--new", required=True, help="new snapshot parquet path")
    pd.add_argument("--id-col", default="doc_id")
    pd.add_argument("--text-col", default="text")
    pd.add_argument(
        "--summary-only",
        action="store_true",
        help="print only the per-status counts",
    )
    pd.add_argument(
        "--limit", type=int, default=20, help="max changed rows to print"
    )

    pdr = sub.add_parser(
        "drift",
        help="token-distribution drift (KL-contribution top-k) between "
        "two corpus snapshots",
    )
    pdr.add_argument("--old", required=True, help="old snapshot parquet path")
    pdr.add_argument("--new", required=True, help="new snapshot parquet path")
    pdr.add_argument("--text-col", default="text")
    pdr.add_argument("--k", type=int, default=25)

    pc = sub.add_parser(
        "expect",
        help="run data-expectation contracts from a JSON spec; exit 1 on violation",
    )
    pc.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pc.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pc.add_argument("--json", action="append", default=[], metavar="PATH")
    pc.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pc.add_argument(
        "spec",
        help="JSON file: list of {check: name, ...args}; checks: "
        "row_count_at_least{n}, unique{col}, max_null_fraction{col,fraction}, "
        "in_set{col,allowed}, min{col,lo}, max{col,hi}",
    )

    pp = sub.add_parser(
        "profile", help="one-pass per-column table profile (SUMMARIZE-style)"
    )
    pp.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pp.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pp.add_argument("--json", action="append", default=[], metavar="PATH")
    pp.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pp.add_argument(
        "--exact",
        action="store_true",
        help="exact distinct counts (default: HyperLogLog approximation)",
    )

    pk = sub.add_parser(
        "skew",
        help="hot-key shuffle diagnostics for a column: top-k keys, "
        "shares, normalized entropy (the salting/AQE pre-flight)",
    )
    pk.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pk.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pk.add_argument("--json", action="append", default=[], metavar="PATH")
    pk.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pk.add_argument("--key", required=True, help="the join/groupBy key column")
    pk.add_argument("--k", type=int, default=20, help="top-k hot keys to show")

    pcu = sub.add_parser(
        "curate",
        help="the full batch curation recipe: [html strip] -> C4 -> "
        "exact dedup -> near dedup -> quality gate -> [splits]; "
        "prints the per-stage retention report",
    )
    pcu.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pcu.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pcu.add_argument("--json", action="append", default=[], metavar="PATH")
    pcu.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pcu.add_argument("--text-col", default="text")
    pcu.add_argument("--html", action="store_true", help="strip HTML first")
    pcu.add_argument("--no-c4", action="store_true")
    pcu.add_argument("--min-kept-lines", type=int, default=1)
    pcu.add_argument("--no-near-dup", action="store_true")
    pcu.add_argument(
        "--keep", choices=("min_id", "longest"), default="min_id"
    )
    pcu.add_argument("--min-quality", type=float, default=0.5)
    pcu.add_argument(
        "--splits",
        default=None,
        metavar="NAME=W,...",
        help="e.g. train=0.9,valid=0.05,test=0.05",
    )
    pcu.add_argument(
        "--leakage-safe",
        action="store_true",
        help="split on near-dup cluster canonicals (requires near-dup)",
    )
    pcu.add_argument("--seed", type=int, default=42)
    pcu.add_argument("--output", default=None, help="write curated rows here")

    pd_ = sub.add_parser(
        "card",
        help="dataset-card summary: volume, provenance/language "
        "breadth, exact-dup rate, median size, + length histogram",
    )
    pd_.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pd_.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pd_.add_argument("--json", action="append", default=[], metavar="PATH")
    pd_.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pd_.add_argument("--text-col", default="text")
    pd_.add_argument(
        "--histogram",
        action="store_true",
        help="also print the equi-width length histogram",
    )

    psh = sub.add_parser(
        "shard",
        help="shard assignment: hash (export_shard) or size-balanced "
        "snake deal; prints the per-shard doc/weight summary",
    )
    psh.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    psh.add_argument("--parquet", action="append", default=[], metavar="PATH")
    psh.add_argument("--json", action="append", default=[], metavar="PATH")
    psh.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    psh.add_argument("--method", choices=("hash", "snake"), default="hash")
    psh.add_argument("--shards", type=int, default=16)
    psh.add_argument("--id-col", default="doc_id")
    psh.add_argument("--text-col", default="text")
    psh.add_argument(
        "--weight-col",
        default=None,
        help="snake only: weight column (default: whitespace tokens)",
    )
    psh.add_argument("--seed", type=int, default=42)
    psh.add_argument("--output", default=None, help="write assignments here")

    pt = sub.add_parser(
        "train-filter",
        help="train a quality-filter model (hashed linear classifier "
        "or bigram LM) and write it as parquet",
    )
    pt.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pt.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pt.add_argument("--json", action="append", default=[], metavar="PATH")
    pt.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pt.add_argument(
        "--method",
        choices=("classifier", "lm", "dsir"),
        default="classifier",
    )
    pt.add_argument(
        "--target",
        default=None,
        help="dsir: parquet dir of the TARGET corpus; the written model "
        "is the bucket weight table (Xie et al. 2023)",
    )
    pt.add_argument("--output", required=True, help="model output dir (parquet)")
    pt.add_argument("--text-col", default="text")
    pt.add_argument("--id-col", default="doc_id")
    pt.add_argument(
        "--label-col",
        default="label",
        help="0/1 label column (classifier only)",
    )
    pt.add_argument("--steps", type=int, default=2, help="gradient steps")
    pt.add_argument(
        "--ngram",
        type=int,
        choices=(2, 3),
        default=None,
        help="LM order (lm only): 2 = bigram (default; addk/kn "
        "scoring), 3 = trigram (stupid-backoff scoring)",
    )
    pt.add_argument("--lr", type=int, default=4000, help="integer learning rate")
    pt.add_argument("--n-buckets", type=int, default=1 << 18)

    pq = sub.add_parser(
        "score",
        help="score documents with a quality-filter model; prints a "
        "keep-rate summary and optionally writes scored rows",
    )
    pq.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pq.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pq.add_argument("--json", action="append", default=[], metavar="PATH")
    pq.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pq.add_argument(
        "--method", choices=("classifier", "lm", "dsir"), default="classifier"
    )
    pq.add_argument(
        "--model",
        default=None,
        help="trained model parquet dir (from train-filter); classifier "
        "without --model uses the engine-recomputable formula weights",
    )
    pq.add_argument(
        "--target",
        default=None,
        help="dsir: parquet dir of the TARGET corpus whose distribution "
        "raw documents are scored against (Xie et al. 2023)",
    )
    pq.add_argument(
        "--min-avg-importance",
        type=float,
        default=None,
        help="dsir: keep documents whose per-feature importance "
        "(log_importance / n_features) is >= this",
    )
    pq.add_argument("--text-col", default="text")
    pq.add_argument("--id-col", default="doc_id")
    pq.add_argument(
        "--threshold",
        type=float,
        default=None,
        help="classifier mode only: keep-probability cutoff "
        "(default 0.0 when omitted)",
    )
    pq.add_argument(
        "--n-buckets",
        type=int,
        default=None,
        help="feature-hash bucket count (default 2^18; a dsir --model "
        "table carries its own and wins)",
    )
    pq.add_argument(
        "--max-ppl",
        type=float,
        default=None,
        help="LM mode: keep documents with perplexity <= this",
    )
    pq.add_argument(
        "--smoothing",
        choices=("addk", "kn", "sb", "jm"),
        default="addk",
        help="LM mode: add-k (default), interpolated Kneser-Ney "
        "(continuation-count redistribution, the KenLM/CCNet default), "
        "trigram stupid backoff (sb needs a TRIGRAM model from "
        "train-filter --method lm --ngram 3), or Jelinek-Mercer "
        "interpolation (jm; addk/kn/jm need a bigram model)",
    )
    pq.add_argument("--output", default=None, help="write scored rows here")

    pc = sub.add_parser(
        "clean",
        help="C4 line/page filter (terminal-punctuation / min-words / "
        "blocked-word line rules + page rules); prints a keep-rate "
        "summary and optionally writes filtered rows",
    )
    pc.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pc.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pc.add_argument("--json", action="append", default=[], metavar="PATH")
    pc.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pc.add_argument("--text-col", default="text")
    pc.add_argument(
        "--html",
        action="store_true",
        help="strip HTML markup first (block tags become line breaks, "
        "so the line rules still see the page's line structure)",
    )
    pc.add_argument("--min-words", type=int, default=3)
    pc.add_argument("--min-kept-lines", type=int, default=5)
    pc.add_argument(
        "--no-terminal",
        action="store_true",
        help="disable the terminal-punctuation line rule",
    )
    pc.add_argument(
        "--blocked-line-word",
        action="append",
        default=None,
        metavar="WORD",
        help="drop lines containing WORD (repeatable; default: javascript)",
    )
    pc.add_argument(
        "--blocked-doc-phrase",
        action="append",
        default=None,
        metavar="PHRASE",
        help="drop docs containing PHRASE (repeatable; default: "
        "'lorem ipsum' and '{')",
    )
    pc.add_argument("--output", default=None, help="write filtered rows here")

    pu = sub.add_parser(
        "quota",
        help="canonicalize URLs and keep at most N docs per registered "
        "domain (deterministic priority); prints a per-domain summary "
        "and optionally writes the kept rows",
    )
    pu.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pu.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pu.add_argument("--json", action="append", default=[], metavar="PATH")
    pu.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pu.add_argument("--url-col", default="url")
    pu.add_argument("--id-col", default="doc_id")
    pu.add_argument("--quota", type=int, default=10, help="max docs kept per domain")
    pu.add_argument(
        "--shards",
        type=int,
        default=32,
        help="phase-1 ranking shards (output-invariant; see operator doc)",
    )
    pu.add_argument(
        "--top",
        type=int,
        default=20,
        help="domains shown in the summary (largest first)",
    )
    pu.add_argument("--output", default=None, help="write kept rows here")

    po = sub.add_parser(
        "overlap",
        help="cross-source duplication matrix: per ordered source pair,"
        " near-duplicate document-pair counts + mean containment",
    )
    po.add_argument("--parquet", action="append", default=[], metavar="PATH")
    po.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    po.add_argument("--json", action="append", default=[], metavar="PATH")
    po.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    po.add_argument("--text-col", default="text")
    po.add_argument("--source-col", default="source")
    po.add_argument("--k", type=int, default=3, help="shingle width (words)")
    po.add_argument(
        "--max-df",
        type=int,
        default=50,
        help="stop-shingle document-frequency cap",
    )
    po.add_argument("--min-containment", type=float, default=0.6)
    po.add_argument(
        "--top",
        type=int,
        default=20,
        help="source pairs shown (most duplicated first)",
    )
    po.add_argument("--output", default=None, help="write the full matrix here")

    pdc = sub.add_parser(
        "decontam",
        help="eval-set contamination audit: (train_doc, eval_doc) pairs "
        "sharing char k-grams, exact join or Bloom-prefiltered scale path "
        "(identical results either way)",
    )
    pdc.add_argument("--train", required=True, help="train corpus parquet path")
    pdc.add_argument("--eval", dest="eval_dir", required=True,
                     help="eval suite parquet path")
    pdc.add_argument("--text-col", default="text")
    pdc.add_argument(
        "--k",
        type=int,
        default=None,
        help="k-gram width (default: 8 for --unit char, 13 for --unit "
        "word — the GPT-3/PaLM convention)",
    )
    pdc.add_argument(
        "--unit",
        choices=["char", "word"],
        default="char",
        help="gram unit: char k-grams (tokenization-robust default) or "
        "FULL-WINDOW word k-grams (documents shorter than k words never "
        "match; pair with --min-shared 1 for the 13-gram overlap rule)",
    )
    pdc.add_argument("--min-shared", type=int, default=2)
    pdc.add_argument(
        "--max-gram-eval-df",
        type=int,
        default=50,
        help="drop eval grams appearing in more eval docs than this "
        "(boilerplate guard)",
    )
    pdc.add_argument(
        "--method",
        choices=["exact", "bloom", "auto"],
        default="exact",
        help="bloom = broadcast SBBF prefilter on the train gram stream "
        "(the past-broadcast-threshold scale path; same output); auto = "
        "exact while the df-capped eval gram relation fits the session's "
        "auto-broadcast threshold, bloom past it (prints the choice)",
    )
    pdc.add_argument(
        "--broadcast-threshold-bytes",
        type=int,
        default=None,
        help="auto only: size the exact-vs-bloom decision for a TARGET "
        "cluster's spark.sql.autoBroadcastJoinThreshold instead of this "
        "session's (-1 = broadcast disabled there, always bloom)",
    )
    pdc.add_argument(
        "--top", type=int, default=20, help="pairs shown (most shared first)"
    )
    pdc.add_argument("--output", default=None, help="write the full pair set here")

    pv = sub.add_parser(
        "sample",
        help="draw a deterministic sample: weighted (proportional to a "
        "column), per-group stratified, or token-budget curation",
    )
    pv.add_argument("--parquet", action="append", default=[], metavar="PATH")
    pv.add_argument("--csv", action="append", default=[], metavar="PATH_OR_URL")
    pv.add_argument("--json", action="append", default=[], metavar="PATH")
    pv.add_argument("--table-name", default=DEFAULT_TABLE_NAME)
    pv.add_argument(
        "--method",
        choices=("weighted", "per-group", "budget"),
        default="weighted",
    )
    pv.add_argument("--k", type=int, default=None, help="sample size")
    pv.add_argument(
        "--weight-col", default=None, help="weighted: positive weight column"
    )
    pv.add_argument(
        "--group-col",
        action="append",
        default=[],
        help="per-group: stratum column(s)",
    )
    pv.add_argument(
        "--budget", type=int, default=None, help="budget: token budget"
    )
    # method-specific flags default to None so an EXPLICITLY passed
    # default value is distinguishable from 'not passed' (the r7
    # --seed 7 false-accept); defaults resolve after validation
    pv.add_argument(
        "--score-col", default=None, help="budget: ranking column"
        " (default quality_score)"
    )
    pv.add_argument(
        "--tokens-col", default=None, help="budget: token-count column"
        " (default n_tokens)"
    )
    pv.add_argument("--id-col", default="doc_id")
    pv.add_argument(
        "--seed", type=int, default=None,
        help="weighted/per-group: draw seed (default 7)"
    )
    pv.add_argument("--output", default=None, help="write sampled rows here")

    pf = sub.add_parser("federate", help="serve a federated virtual table")
    pf.add_argument("--table-name", required=True)
    pf.add_argument(
        "--shard-addresses",
        action="append",
        default=[],
        metavar="postgres://...",
        required=True,
    )
    pf.add_argument("address", nargs="?", default=DEFAULT_SERVE_ADDRESS)
    return p


def _register_direct(spark, args) -> None:
    """Register the --csv/--parquet/--json sources as ONE table (the
    reference's single-table semantic, csvb.rs:44-46); exactly one
    format may be given per invocation. ``serve`` persists a small
    table at registration, so its files are parsed once, by the first
    statement that reads them."""
    from csvb_spark.sources.csv_source import add_direct_table

    given = [
        (fmt, paths)
        for fmt, paths in (
            ("csv", args.csv),
            ("parquet", args.parquet),
            ("json", args.json),
        )
        if paths
    ]
    if len(given) > 1:
        raise SystemExit(
            "give at most one of --csv/--parquet/--json (one table, one format)"
        )
    for fmt, paths in given:
        add_direct_table(
            spark, args.table_name, paths, fmt=fmt, persist=args.command == "serve"
        )


def _session(args):
    from csvb_spark.session import get_session

    # FAIR scheduling only where it pays: the multi-client serve paths
    # (serve/federate) need per-connection pools so one long query
    # can't head-of-line-block other sessions; single-user batch work
    # keeps FIFO (round-12 A/B: FAIR costs 4-22% per query — see
    # session.py and SCALE.md §FAIR).
    return get_session(
        app_name="csvb",
        memory_pool_bytes=args.memory_pool_bytes,
        scheduler_mode=(
            "FAIR" if args.command in ("serve", "federate") else "FIFO"
        ),
    )


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    initialize_logging(args.log_levels)

    if args.command == "haiku":
        from csvb_spark.functions.haiku import print_haiku

        print_haiku(print_all=args.print_all)
        return 0

    if args.command == "exec":
        from csvb_spark.plans.pretty import render_df
        from csvb_spark.sql import execute_sql

        spark = _session(args)
        _register_direct(spark, args)
        print(render_df(execute_sql(spark, args.query)))
        return 0

    if args.command == "planlint":
        # CI-style gate for user queries: exit 0 when the plan is
        # free of structural scale hazards, 1 with one finding per
        # line otherwise. Plans only — nothing executes.
        from csvb_spark.plans.lint import lint_plan, physical_plan
        from csvb_spark.sql import execute_sql

        spark = _session(args)
        _register_direct(spark, args)
        df = execute_sql(spark, args.query)
        findings = lint_plan(df)
        if args.explain:
            print(physical_plan(df))
        if findings:
            for f in findings:
                print(f)
            return 1
        print("plan is lint-clean")
        return 0

    if args.command == "serve":
        from csvb_spark.server.pgwire import serve_forever

        spark = _session(args)
        _register_direct(spark, args)
        serve_forever(spark, args.address)
        return 0

    if args.command == "export":
        from csvb_spark.operators.splits import export_corpus
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        if args.export_format == "tar":
            if args.max_records_per_file is not None:
                print(
                    "error: --max-records-per-file applies to parquet/jsonl "
                    "exports only (tar shards are bounded via --shards)",
                    file=sys.stderr,
                )
                return 2
            from csvb_spark.operators.splits import export_tar_shards

            manifest = export_tar_shards(
                spark.table(args.table_name),
                args.out_dir,
                n_shards=args.shards,
                id_col=args.id_col,
                seed=args.seed,
            )
        else:
            manifest = export_corpus(
                spark.table(args.table_name),
                args.out_dir,
                n_shards=args.shards,
                id_col=args.id_col,
                seed=args.seed,
                max_records_per_file=args.max_records_per_file,
                fmt=args.export_format,
            )
        print(render_df(manifest.orderBy("shard")))
        return 0

    if args.command == "ingest":
        from csvb_spark.streaming.ingest import run_streaming_ingest

        spark = _session(args)
        run_streaming_ingest(
            spark,
            args.source,
            args.corpus,
            args.index,
            args.checkpoint,
            min_quality=args.min_quality,
            min_jaccard=args.min_jaccard,
            gopher_gate=args.gopher_gate,
            gopher_min_words=args.gopher_min_words,
            classifier_threshold=args.classifier_threshold,
            lm_model_dir=args.lm_model,
            max_ppl=args.max_ppl,
            lm_smoothing=args.lm_smoothing,
            url_col=args.url_col,
            domain_quota=args.domain_quota,
            quota_dir=args.quota_dir,
            dsir_weights_dir=args.dsir_weights,
            dsir_min_avg=args.dsir_min_avg,
            decontam_eval_dir=args.decontam_eval,
            decontam_min_shared=args.decontam_min_shared,
            decontam_k=args.decontam_k,
            decontam_unit=args.decontam_unit,
        )
        return 0

    if args.command == "diff":
        from pyspark.sql import functions as F

        from csvb_spark.operators.splits import corpus_diff
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        d = corpus_diff(
            spark.read.parquet(args.old),
            spark.read.parquet(args.new),
            id_col=args.id_col,
            text_col=args.text_col,
        )
        print(
            render_df(
                d.groupBy("status").agg(F.count("*").alias("n")).orderBy("status")
            )
        )
        if not args.summary_only:
            print(
                render_df(
                    d.filter(F.col("status") != "unchanged")
                    .orderBy("status", args.id_col)
                    .limit(args.limit)
                )
            )
        return 0

    if args.command == "drift":
        from csvb_spark.operators.lm import token_drift
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        print(
            render_df(
                token_drift(
                    spark.read.parquet(args.old),
                    spark.read.parquet(args.new),
                    text_col=args.text_col,
                    k=args.k,
                )
            )
        )
        return 0

    if args.command == "expect":
        import json as _json

        from csvb_spark.operators import expectations as X
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        spec = _json.load(open(args.spec))
        builders = {
            "row_count_at_least": lambda a: X.expect_row_count_at_least(a["n"]),
            "unique": lambda a: X.expect_unique(a["col"]),
            "max_null_fraction": lambda a: X.expect_max_null_fraction(
                a["col"], a["fraction"]
            ),
            "in_set": lambda a: X.expect_in_set(a["col"], a["allowed"]),
            "min": lambda a: X.expect_min(a["col"], a["lo"]),
            "max": lambda a: X.expect_max(a["col"], a["hi"]),
        }
        checks = []
        for c in spec:
            kind = c.pop("check", None)
            if kind not in builders:
                raise SystemExit(f"expect: unknown check {kind!r}")
            try:
                checks.append(builders[kind](c))
            except KeyError as e:
                raise SystemExit(
                    f"expect: check {kind!r} is missing argument {e}"
                )
        report = X.check_expectations(spark.table(args.table_name), checks)
        rows = report.collect()
        print(render_df(report))
        return 0 if all(r["passed"] for r in rows) else 1

    if args.command == "profile":
        from csvb_spark.operators.profile import profile_table
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        print(
            render_df(profile_table(spark.table(args.table_name), exact=args.exact))
        )
        return 0

    if args.command == "shard":
        from pyspark.sql import functions as F

        from csvb_spark.operators.splits import export_shard, snake_sharding
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        table = spark.table(args.table_name)
        if args.method == "snake":
            assigned = snake_sharding(
                table,
                n_shards=args.shards,
                weight_col=args.weight_col,
                text_col=args.text_col,
                id_col=args.id_col,
                seed=args.seed,
            )
        else:
            if args.weight_col is not None:
                print(
                    "error: --weight-col applies to --method snake only",
                    file=sys.stderr,
                )
                return 2
            assigned = table.select(
                F.col(args.id_col),
                F.size(
                    F.split(
                        F.trim(F.coalesce(F.col(args.text_col), F.lit(""))),
                        r"\s+",
                    )
                )
                .cast("bigint")
                .alias("weight"),
                export_shard(args.id_col, args.shards, args.seed).alias(
                    "shard"
                ),
            )
        if args.output:
            assigned.write.mode("overwrite").parquet(args.output)
            assigned = spark.read.parquet(args.output)
        summary = (
            assigned.groupBy("shard")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("weight").alias("total_weight"),
            )
            .orderBy("shard")
        )
        print(render_df(summary))
        return 0

    if args.command == "curate":
        from csvb_spark.operators.pipeline import curate
        from csvb_spark.plans.pretty import render_df

        if args.leakage_safe and args.no_near_dup:
            print(
                "error: --leakage-safe needs near-dup clustering "
                "(drop --no-near-dup)",
                file=sys.stderr,
            )
            return 2
        weights = None
        if args.splits:
            try:
                weights = {
                    k: float(v)
                    for k, v in (p.split("=", 1) for p in args.splits.split(","))
                }
            except ValueError:
                print(
                    f"error: malformed --splits {args.splits!r} "
                    "(expected NAME=W,...)",
                    file=sys.stderr,
                )
                return 2
        spark = _session(args)
        _register_direct(spark, args)
        try:
            curated, report = curate(
                spark.table(args.table_name),
                text_col=args.text_col,
                html=args.html,
                c4=not args.no_c4,
                min_kept_lines=args.min_kept_lines,
                near_dup=not args.no_near_dup,
                keep=args.keep,
                min_quality=args.min_quality,
                splits=weights,
                leakage_safe=args.leakage_safe,
                seed=args.seed,
            )
        except ValueError as ex:
            print(f"error: {ex}", file=sys.stderr)
            return 2
        if args.output:
            curated.write.mode("overwrite").parquet(args.output)
        print(render_df(report))
        return 0

    if args.command == "card":
        from pyspark.sql import functions as F

        from csvb_spark.operators.profile import dataset_card, length_histogram
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        table = spark.table(args.table_name)
        print(render_df(dataset_card(table, text_col=args.text_col)))
        if args.histogram:
            hist = length_histogram(
                table.withColumn(
                    "n_chars",
                    F.length(F.coalesce(F.col(args.text_col), F.lit(""))),
                )
            )
            print(render_df(hist.orderBy("bin")))
        return 0

    if args.command == "skew":
        from csvb_spark.operators.profile import skew_report
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        table = spark.table(args.table_name)
        if args.key not in table.columns:
            raise SystemExit(
                f"skew: column {args.key!r} not in table"
                f" (columns: {', '.join(table.columns)})"
            )
        # collect ONCE; render and verdict from the collected rows —
        # rep.first() after render_df would re-run the whole scan+agg
        # (the score path's write-once rule applies here too)
        rep = skew_report(table, args.key, k=args.k)
        rows = rep.collect()
        print(render_df(spark.createDataFrame(rows, rep.schema)))
        if rows:
            first = rows[0]
            ne = first["norm_entropy"]
            if ne is None and first["n_keys"] == 1:
                # one key owns 100% of rows: entropy normalizes to
                # NULL but this is the DEGENERATE-skew case (the
                # minhash preflight special-cases it the same way)
                print(
                    "norm_entropy=NULL (single key): SKEWED - one key owns "
                    "every row; salting/AQE skew-split mandatory on this key"
                )
            elif ne is not None:
                verdict = (
                    "SKEWED - plan for salting/AQE skew-split on this key"
                    if ne < 0.5
                    else "balanced - shuffle freely on this key"
                )
                print(f"norm_entropy={ne}: {verdict}")
        return 0

    if args.command == "train-filter":
        spark = _session(args)
        _register_direct(spark, args)
        table = spark.table(args.table_name)
        # flags that belong to exactly one method must not be
        # silently discarded by the others (one shared rejection)
        if args.method != "dsir" and args.target is not None:
            raise SystemExit(
                "train-filter: --target applies to --method dsir only"
            )
        if args.method != "lm" and args.ngram is not None:
            raise SystemExit(
                "train-filter: --ngram applies to --method lm only"
            )
        _CLF_ONLY = [("label_col", "label"), ("steps", 2), ("lr", 4000)]
        if args.method != "classifier":
            for flag, default in _CLF_ONLY + (
                [("n_buckets", 1 << 18)] if args.method == "lm" else []
            ):
                if getattr(args, flag) != default:
                    raise SystemExit(
                        f"train-filter: --{flag.replace('_', '-')} applies"
                        " to --method classifier only"
                    )
        if args.method == "dsir":
            if not args.target:
                raise SystemExit("train-filter --method dsir requires --target")
            from csvb_spark.operators.classify import dsir_bucket_weights

            model = dsir_bucket_weights(
                table,
                spark.read.parquet(args.target),
                text_col=args.text_col,
                n_buckets=args.n_buckets,
            )
        elif args.method == "classifier":
            from csvb_spark.operators.classify import linear_classifier_train

            model = linear_classifier_train(
                table,
                text_col=args.text_col,
                id_col=args.id_col,
                label_col=args.label_col,
                n_buckets=args.n_buckets,
                lr=args.lr,
                steps=args.steps,
            )
        else:
            from csvb_spark.operators.lm import (
                bigram_lm_train,
                trigram_lm_train,
            )

            train = trigram_lm_train if args.ngram == 3 else bigram_lm_train
            model = train(table, text_col=args.text_col)
        model.write.mode("overwrite").parquet(args.output)
        print(f"{args.method} model: {model.count()} rows -> {args.output}")
        return 0

    if args.command == "score":
        from pyspark.sql import functions as F

        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        table = spark.table(args.table_name)
        if args.method != "dsir":
            if args.target is not None:
                raise SystemExit(
                    "score: --target applies to --method dsir only"
                )
            if args.min_avg_importance is not None:
                raise SystemExit(
                    "score: --min-avg-importance applies to --method dsir only"
                )
        if args.method == "dsir":
            for flag, bad in (
                ("--max-ppl", args.max_ppl),
                ("--threshold", args.threshold),
            ):
                if bad is not None:
                    raise SystemExit(
                        f"score: {flag} does not apply to --method dsir"
                    )
            if args.smoothing != "addk":
                raise SystemExit(
                    "score: --smoothing applies to --method lm only"
                )
            if bool(args.target) == bool(args.model):
                raise SystemExit(
                    "score --method dsir needs exactly one of --target "
                    "(build weights in-line) or --model (weights dir from "
                    "train-filter --method dsir)"
                )
            from csvb_spark.operators.classify import (
                dsir_score,
                dsir_score_with_weights,
            )

            if args.model:
                try:
                    scored = dsir_score_with_weights(
                        table,
                        spark.read.parquet(args.model),
                        text_col=args.text_col,
                        id_col=args.id_col,
                        n_buckets=args.n_buckets,  # None -> table wins
                    )
                except ValueError as ex:
                    raise SystemExit(f"score: {ex}") from None
            else:
                scored = dsir_score(
                    table,
                    spark.read.parquet(args.target),
                    text_col=args.text_col,
                    id_col=args.id_col,
                    n_buckets=args.n_buckets or (1 << 18),
                )
            keep = (
                (
                    F.col("log_importance")
                    / F.col("n_features").cast("double")
                )
                >= F.lit(float(args.min_avg_importance))
                if args.min_avg_importance is not None
                else F.lit(True)
            )
            scored = scored.withColumn("keep", keep)
        elif args.method == "classifier":
            if args.max_ppl is not None:
                raise SystemExit("score: --max-ppl applies to --method lm only")
            if args.smoothing != "addk":
                raise SystemExit(
                    "score: --smoothing applies to --method lm only"
                )
            from csvb_spark.operators.classify import linear_classifier_score

            weights = (
                spark.read.parquet(args.model) if args.model else None
            )
            scored = linear_classifier_score(
                table,
                text_col=args.text_col,
                id_col=args.id_col,
                n_buckets=args.n_buckets or (1 << 18),
                weights=weights,
                threshold=(
                    args.threshold if args.threshold is not None else 0.0
                ),
            )
        else:
            if not args.model:
                raise SystemExit("score --method lm requires --model")
            if args.threshold is not None:
                raise SystemExit(
                    "score: --threshold applies to --method classifier only;"
                    " use --max-ppl for the LM gate"
                )
            if args.n_buckets is not None:
                raise SystemExit(
                    "score: --n-buckets does not apply to --method lm "
                    "(the model's vocabulary is its feature space)"
                )
            from csvb_spark.operators.lm import (
                jelinek_mercer_score,
                kneser_ney_score,
                perplexity_score,
                stupid_backoff_score,
            )

            lm = spark.read.parquet(args.model)
            from csvb_spark.operators.lm import check_model_shape

            try:
                check_model_shape(lm.columns, args.smoothing, "score")
            except ValueError as ex:
                raise SystemExit(str(ex)) from None
            if args.smoothing == "sb":
                scored = stupid_backoff_score(
                    table,
                    lm,
                    text_col=args.text_col,
                    id_col=args.id_col,
                )
            elif args.smoothing == "kn":
                scored = kneser_ney_score(
                    table,
                    lm,
                    text_col=args.text_col,
                    id_col=args.id_col,
                )
            elif args.smoothing == "jm":
                scored = jelinek_mercer_score(
                    table,
                    lm,
                    text_col=args.text_col,
                    id_col=args.id_col,
                )
            else:
                scored = perplexity_score(
                    table,
                    lm,
                    text_col=args.text_col,
                    id_col=args.id_col,
                    broadcast_model=True,
                )
            # same rule as the streaming ingest gate (_accept_batch):
            # documents with no bigram evidence (NULL ppl) PASS the LM
            # gate — other rules decide their fate. Without --max-ppl
            # there IS no gate, so keep is uniformly true (n_keep ==
            # n_docs) — NOT a was-scorable flag, which would mark the
            # same no-evidence document false here and true under any
            # threshold (a looser constraint flipping a doc from
            # rejected to accepted). keep is always a real boolean,
            # never three-valued NULL.
            score_col = "sppl" if args.smoothing == "sb" else "ppl"
            keep = (
                F.col(score_col).isNull()
                | (F.col(score_col) <= F.lit(float(args.max_ppl)))
                if args.max_ppl is not None
                else F.lit(True)
            )
            scored = scored.withColumn("keep", keep)
        if args.output:
            # write once, summarize from the written files — never
            # re-execute the scoring pipeline for the summary line
            scored.write.mode("overwrite").parquet(args.output)
            scored = spark.read.parquet(args.output)
        summary = scored.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("n_keep"),
        )
        print(render_df(summary))
        return 0

    if args.command == "clean":
        from pyspark.sql import functions as F

        from csvb_spark.operators.text import c4_line_filter
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        table = spark.table(args.table_name)
        if args.html:
            from csvb_spark.operators.web import html_strip_col

            table = table.withColumn(
                args.text_col, html_strip_col(F.col(args.text_col))
            )
        kw = {}
        if args.blocked_line_word is not None:
            kw["blocked_line_words"] = tuple(args.blocked_line_word)
        if args.blocked_doc_phrase is not None:
            kw["blocked_doc_phrases"] = tuple(args.blocked_doc_phrase)
        cleaned = c4_line_filter(
            table,
            text_col=args.text_col,
            min_words=args.min_words,
            require_terminal=not args.no_terminal,
            min_kept_lines=args.min_kept_lines,
            **kw,
        )
        if args.output:
            # write once, summarize from the written files (the score
            # path's convention)
            cleaned.write.mode("overwrite").parquet(args.output)
            cleaned = spark.read.parquet(args.output)
        summary = cleaned.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep_doc").cast("bigint")).alias("n_keep"),
            F.sum("n_lines").alias("n_lines"),
            F.sum("n_kept").alias("n_kept_lines"),
        )
        print(render_df(summary))
        return 0

    if args.command == "quota":
        from pyspark.sql import functions as F

        from csvb_spark.operators.web import domain_quota_sample
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        table = spark.table(args.table_name)
        for col in (args.url_col, args.id_col):
            if col not in table.columns:
                raise SystemExit(
                    f"quota: column {col!r} not in table"
                    f" (have: {', '.join(table.columns)})"
                )
        kept = domain_quota_sample(
            table,
            url_col=args.url_col,
            id_col=args.id_col,
            quota=args.quota,
            n_shards=args.shards,
        )
        if args.output:
            # write once, summarize from the written files (the score
            # path's convention)
            kept.write.mode("overwrite").parquet(args.output)
            kept = spark.read.parquet(args.output)
        summary = (
            kept.groupBy("domain")
            .agg(F.count("*").alias("n_kept"))
            .orderBy(F.desc("n_kept"), "domain")
            .limit(args.top)
        )
        print(render_df(summary))
        return 0

    if args.command == "overlap":
        from pyspark.sql import functions as F

        from csvb_spark.operators.dedup import source_overlap
        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        table = spark.table(args.table_name)
        for col in (args.text_col, args.source_col):
            if col not in table.columns:
                raise SystemExit(
                    f"overlap: column {col!r} not in table"
                    f" (have: {', '.join(table.columns)})"
                )
        matrix = source_overlap(
            table,
            text_col=args.text_col,
            source_col=args.source_col,
            k=args.k,
            max_df=args.max_df,
            min_containment=args.min_containment,
        )
        if args.output:
            # write once, summarize from the written files (the score
            # path's convention)
            matrix.write.mode("overwrite").parquet(args.output)
            matrix = spark.read.parquet(args.output)
        print(
            render_df(
                matrix.orderBy(
                    F.desc("n_pairs"), "source_a", "source_b"
                ).limit(args.top)
            )
        )
        return 0

    if args.command == "decontam":
        from pyspark.sql import functions as F

        from csvb_spark.operators.splits import (
            contamination_check,
            contamination_check_bloom,
        )
        from csvb_spark.plans.pretty import render_df

        # method-specific flags must not be silently discarded — the
        # same convention as sample/train-filter
        if args.method != "auto" and args.broadcast_threshold_bytes is not None:
            raise SystemExit(
                "decontam: --broadcast-threshold-bytes applies to"
                " --method auto only"
            )
        spark = _session(args)
        eval_df = spark.read.parquet(args.eval_dir)
        k = args.k if args.k is not None else (13 if args.unit == "word" else 8)
        method = args.method
        if method == "auto":
            from csvb_spark.operators.splits import decontam_auto_method

            method, n_grams, thr = decontam_auto_method(
                eval_df,
                text_col=args.text_col,
                k=k,
                max_gram_eval_df=args.max_gram_eval_df,
                threshold_bytes=args.broadcast_threshold_bytes,
                unit=args.unit,
            )
            print(
                f"decontam: auto selected {method} "
                f"(df-capped eval grams={n_grams}, "
                f"broadcast threshold={thr} bytes)"
            )
        op = (
            contamination_check_bloom
            if method == "bloom"
            else contamination_check
        )
        pairs = op(
            spark.read.parquet(args.train),
            eval_df,
            text_col=args.text_col,
            k=k,
            min_shared=args.min_shared,
            max_gram_eval_df=args.max_gram_eval_df,
            unit=args.unit,
        )
        if args.output:
            # write once, summarize from the written files (the score
            # path's convention)
            pairs.write.mode("overwrite").parquet(args.output)
            pairs = spark.read.parquet(args.output)
        print(
            render_df(
                pairs.orderBy(
                    F.desc("n_shared_grams"), "train_doc_id", "eval_doc_id"
                ).limit(args.top)
            )
        )
        return 0

    if args.command == "sample":
        from pyspark.sql import functions as F

        from csvb_spark.plans.pretty import render_df

        spark = _session(args)
        _register_direct(spark, args)
        table = spark.table(args.table_name)
        # method-specific flags must not be silently discarded — the
        # same convention as train-filter/score
        if args.method != "budget" and args.budget is not None:
            raise SystemExit("sample: --budget applies to --method budget only")
        if args.method != "weighted" and args.weight_col is not None:
            raise SystemExit(
                "sample: --weight-col applies to --method weighted only"
            )
        if args.method != "per-group" and args.group_col:
            raise SystemExit(
                "sample: --group-col applies to --method per-group only"
            )
        if args.method == "budget" and args.k is not None:
            raise SystemExit(
                "sample: --k applies to the weighted/per-group draws;"
                " --method budget sizes by --budget"
            )
        if args.method == "budget" and args.seed is not None:
            raise SystemExit(
                "sample: --seed has no effect on --method budget (the"
                " selection is the deterministic score ranking)"
            )
        if args.method != "budget" and args.score_col is not None:
            raise SystemExit(
                "sample: --score-col applies to --method budget only"
            )
        if args.method != "budget" and args.tokens_col is not None:
            raise SystemExit(
                "sample: --tokens-col applies to --method budget only"
            )
        seed = 7 if args.seed is None else args.seed
        if args.method == "weighted":
            if args.k is None or args.weight_col is None:
                raise SystemExit(
                    "sample --method weighted requires --k and --weight-col"
                )
            from csvb_spark.operators.splits import weighted_sample

            picked = weighted_sample(
                table,
                k=args.k,
                weight_col=args.weight_col,
                id_col=args.id_col,
                seed=seed,
            )
            # the draw returns (id, weight, skey); ship FULL rows like
            # the other methods, with the sort key attached
            out = table.join(
                F.broadcast(picked.select(args.id_col, "skey")),
                args.id_col,
            )
        elif args.method == "per-group":
            if args.k is None or not args.group_col:
                raise SystemExit(
                    "sample --method per-group requires --k and --group-col"
                )
            from csvb_spark.operators.splits import sample_per_group

            out = sample_per_group(
                table,
                tuple(args.group_col),
                args.k,
                id_col=args.id_col,
                seed=seed,
            )
        else:
            if args.budget is None:
                raise SystemExit("sample --method budget requires --budget")
            from csvb_spark.operators.splits import budget_select

            kept = budget_select(
                table,
                budget=args.budget,
                score_col=args.score_col or "quality_score",
                tokens_col=args.tokens_col or "n_tokens",
                id_col=args.id_col,
            ).filter(F.col("keep"))
            # full rows, like the other methods (the kept set is not
            # k-bounded, so a semi join — never a broadcast)
            out = table.join(kept.select(args.id_col), args.id_col, "left_semi")
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            out = spark.read.parquet(args.output)
        print(render_df(out.agg(F.count("*").alias("n_sampled"))))
        return 0

    if args.command == "federate":
        from csvb_spark.server.pgwire import serve_forever
        from csvb_spark.sources.federation import VirtualTable, add_federated_tables

        spark = _session(args)
        add_federated_tables(
            spark, [VirtualTable(args.table_name, args.shard_addresses)]
        )
        serve_forever(spark, args.address)
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
