"""Command-line interface (parity with cumulus_etl/cli.py:16-110).

The CLI only parses, calls and prints: each verb's work, and each
report it prints, lives in the library. ``python -m
cumulus_etl_spark.cli --help`` lists every verb and ``<verb> --help``
its flags; README.md "Running" shows them in use.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F

from cumulus_etl_spark.session import get_spark


def _csv(flag: str) -> list[str]:
    """The stripped, non-empty items of a comma-separated flag value."""
    return [c.strip() for c in flag.split(",") if c.strip()]


def _require_columns(verb: str, df, cols: list[str]) -> None:
    """Exit with the verb's message when ``df`` lacks any of ``cols``."""
    unknown = [c for c in cols if c not in df.columns]
    if unknown:
        raise SystemExit(f"{verb}: unknown columns {unknown}; table has {df.columns}")


def _lake_tables(lake_dir: str, names: list[str] | None) -> list[str]:
    """``names``, else every table under ``lake_dir`` (each directory
    holding a ``_CURRENT`` pointer), sorted."""
    from cumulus_etl_spark.sinks.merge import CURRENT_POINTER

    return names or sorted(
        d for d in os.listdir(lake_dir)
        if os.path.isfile(os.path.join(lake_dir, d, CURRENT_POINTER))
    )


def _add_stream_state(parser: argparse.ArgumentParser, root: str, root_help: str,
                      landing: str, schema: str, schema_required: bool = True) -> None:
    """The flags shared by the stream verbs: the landing dir, the state
    root ``root``, ``--checkpoint`` (resolved by ``_checkpoint``) and
    ``--schema`` (``schema`` is its example, or its default when not
    required)."""
    parser.add_argument("input_dir", help=f"landing directory of {landing}")
    parser.add_argument(root, help=root_help)
    parser.add_argument("--checkpoint", default=None,
                        help=f"stream checkpoint dir (default: <{root}>/_checkpoint)")
    if schema_required:
        parser.add_argument("--schema", required=True,
                            help=f"input schema, e.g. '{schema}'")
    else:
        parser.add_argument("--schema", default=schema)


def _checkpoint(args: argparse.Namespace, root: str) -> str:
    """A stream verb's checkpoint dir: ``--checkpoint``, else under its state root."""
    return args.checkpoint or os.path.join(root, "_checkpoint")


def _swap_clean_text(survivors, cleaned, id_col: str, text_col: str):
    """Swap in a cleaning pass's ``clean_text``, recompute the token
    count the shard packer budgets on, and drop docs cleaned to empty."""
    from cumulus_etl_spark.operators.textstats import quality_features

    return (
        survivors.drop(text_col, "n_tokens")
        .join(cleaned.select(id_col, F.col("clean_text").alias(text_col)), id_col)
        .withColumn("n_tokens", quality_features(F.col(text_col))["n_tokens"])
        .filter(F.col("n_tokens") > 0)
    )


def _add_note_selection(parser: argparse.ArgumentParser) -> None:
    """The note-selection flags shared by ``sample``, ``nlp`` and
    ``upload-notes`` (ref nlp.add_note_selection), applied by
    ``nlp/selection.py:select_notes``."""
    parser.add_argument("--select-by-word", action="append", dest="select_words")
    parser.add_argument("--select-by-regex", dest="select_regex", default=None)
    parser.add_argument("--select-by-csv", dest="select_by_csv", default=None,
                        help="CSV with note_ref/docref_id/patient_id columns — "
                        "a chart-review session's uploaded_notes.csv works as-is")
    parser.add_argument("--select-by-anon-csv", dest="select_by_anon_csv", default=None,
                        help="like --select-by-csv but with anon_note_ref/"
                        "anon_docref_id/anon_patient_id columns (codebook "
                        "pseudonyms, e.g. from Athena query results)")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="cumulus-etl-spark")
    sub = parser.add_subparsers(dest="verb", required=True)

    p_etl = sub.add_parser("etl", help="de-identifying ETL run")
    p_etl.add_argument("input_dir")
    p_etl.add_argument("output_dir")
    p_etl.add_argument("phi_dir")
    p_etl.add_argument("--task", action="append", dest="tasks")
    p_etl.add_argument("--philter", action="store_true")
    p_etl.add_argument("--philter-bare-names", action="store_true",
                       help="also mask mid-sentence Title-case bigrams "
                            "(conservative bare-name heuristic; implies "
                            "false positives on unusual Title-case prose)")
    p_etl.add_argument("--export-group", dest="group_name")
    p_etl.add_argument("--export-timestamp", dest="export_datetime")
    p_etl.add_argument(
        "--output-format", choices=("merged", "ndjson"), default="merged"
    )
    p_etl.add_argument("--batch-size", type=int, default=100_000)
    p_etl.add_argument(
        "--errors-to",
        dest="errors_to",
        default=None,
        help="explicit dir for quarantined raw rows (default: <phi_dir>/errors; "
        "never the de-identified output dir)",
    )

    p_init = sub.add_parser("init", help="create empty tables with schemas")
    p_init.add_argument("output_dir")
    p_init.add_argument("--task", action="append", dest="tasks")

    p_conv = sub.add_parser("convert", help="NDJSON output folder -> lake")
    p_conv.add_argument("original_dir")
    p_conv.add_argument("target_dir")

    p_i2b2 = sub.add_parser("etl-i2b2", help="i2b2 CSV dump -> de-identified lake")
    p_i2b2.add_argument("input_dir")
    p_i2b2.add_argument("output_dir")
    p_i2b2.add_argument("phi_dir")
    p_i2b2.add_argument("--philter", action="store_true")

    p_sample = sub.add_parser("sample", help="sample N clinical notes")
    p_sample.add_argument("input_dir")
    p_sample.add_argument("count", type=int)
    p_sample.add_argument("--seed", type=int, default=42)
    p_sample.add_argument("--out", default=None, help="write NDJSON here instead of stdout count")
    p_sample.add_argument("--columns", default=None,
                          help="print a CSV of sampled refs with these columns "
                          "(note, subject, encounter — comma-separated); the "
                          "note_ref column feeds --select-by-csv downstream")
    p_sample.add_argument("--output", default="-",
                          help="where to write the --columns CSV (default stdout)")
    p_sample.add_argument("--export-to", dest="export_to", default=None,
                          help="also copy the sampled documents here as NDJSON")
    p_sample.add_argument("--phi-dir", dest="phi_dir", default=None,
                          help="PHI folder (required for --select-by-anon-csv)")
    _add_note_selection(p_sample)
    p_sample.add_argument("--type", dest="resource_types",
                          default="DiagnosticReport,DocumentReference",
                          help="which FHIR note types to consider "
                          "(comma-separated; reference default)")

    # nlp verb (ref etl/nlp/cli.py:219-294)
    p_nlp = sub.add_parser("nlp", help="run NLP study tasks over clinical notes")
    p_nlp.add_argument("input_dir")
    p_nlp.add_argument("output_dir")
    p_nlp.add_argument("phi_dir")
    p_nlp.add_argument("--task", action="append", dest="tasks",
                       help="study task name(s) to run (default: all registered)")
    p_nlp.add_argument("--task-config", default=None,
                       help="tasks.toml defining dynamic study tasks")
    _add_note_selection(p_nlp)
    p_nlp.add_argument("--ctakes-url", default=None,
                       help="use a cTAKES HTTP endpoint instead of the stub model")
    p_nlp.add_argument("--cnlp-url", default=None, help="cNLP negation endpoint")
    p_nlp.add_argument("--ctakes-bsv", default=None,
                       help="custom symptom dictionary (4- or 6-column BSV) "
                       "for the cTAKES server")
    p_nlp.add_argument("--ctakes-overrides", default=None,
                       help="cTAKES overrides folder the server watches for "
                       "dictionary swaps (ref docker setup: /ctakes-overrides)")
    p_nlp.add_argument("--llm-url", default=None,
                       help="use a chat-completions HTTP endpoint instead of the stub model")
    p_nlp.add_argument("--llm-model", default="gpt-like", help="model name for --llm-url")
    # provider dialects (ref nlp/models.py set_nlp_config + Model.__init__)
    p_nlp.add_argument("--provider", choices=("azure", "bedrock", "local"), default=None,
                       help="cloud/local LLM provider dialect (with --model)")
    p_nlp.add_argument("--model", dest="model_id", default=None,
                       help="model config id for --provider (e.g. gpt4o, claude-sonnet45)")
    p_nlp.add_argument("--azure-deployment", default=None,
                       help="Azure deployment name override (default: the model id)")
    p_nlp.add_argument("--bedrock-endpoint", default=None,
                       help="Bedrock runtime endpoint URL (or BEDROCK_ENDPOINT_URL)")
    p_nlp.add_argument("--batch-url", default=None,
                       help="batch-API base URL (submit/poll instead of synchronous calls)")

    # upload-notes verb (ref upload_notes/cli.py:294-412)
    p_up = sub.add_parser("upload-notes", help="push charts to Label Studio")
    p_up.add_argument("input_dir")
    p_up.add_argument("label_studio_url")
    p_up.add_argument("phi_dir")
    p_up.add_argument("--ls-token", required=True, help="token file for Label Studio access")
    p_up.add_argument("--ls-project", required=True, type=int)
    p_up.add_argument("--philter", choices=("disable", "redact", "label"), default="redact")
    p_up.add_argument("--grouping", choices=("encounter", "none"), default="encounter")
    p_up.add_argument("--count", type=int, default=None)
    p_up.add_argument("--seed", type=int, default=42)
    p_up.add_argument("--highlight-by-word", action="append", dest="highlight_words")
    p_up.add_argument("--highlight-by-regex", action="append", dest="highlight_regexes")
    _add_note_selection(p_up)
    p_up.add_argument("--select-by-athena-table", dest="select_by_athena_table",
                      default=None,
                      help="catalog table with anon_* id columns (the Athena "
                      "surface registered by sinks/catalog_ddl.py)")
    p_up.add_argument("--label-by-csv", dest="label_by_csv", default=None,
                      help="pre-label charts from a CSV with note id, label, "
                      "and span (begin:end) columns — e.g. a previous NLP "
                      "run's match table")
    p_up.add_argument("--export-to", dest="export_to", default=None,
                      help="keep the export folder; writes uploaded_notes.csv "
                      "manifest there")
    p_up.add_argument("--overwrite", action="store_true")

    p_corpus = sub.add_parser(
        "corpus", help="clean a document corpus and pack token-budget shards"
    )
    p_corpus.add_argument("input_path", help="parquet path with doc_id/text columns")
    p_corpus.add_argument("output_dir")
    p_corpus.add_argument("--id-col", default="doc_id")
    p_corpus.add_argument("--text-col", default="text")
    p_corpus.add_argument("--lang", default="en", help="keep this language ('any' disables)")
    p_corpus.add_argument("--min-tokens", type=int, default=10)
    p_corpus.add_argument("--jaccard-threshold", type=float, default=0.7)
    p_corpus.add_argument("--dedup-survivor", default="min-id",
                          choices=("min-id", "best"),
                          help="fuzzy-dedup survivor policy: min-id (pairwise "
                               "drop) or best (cluster-canonical keep-longest "
                               "via connected components)")
    p_corpus.add_argument("--shard-tokens", type=int, default=1_000_000,
                          help="token budget per output shard")
    p_corpus.add_argument("--seq-len", type=int, default=None,
                          help="also emit fixed-length packed training sequences "
                               "of this many tokens under <output>/sequences")
    p_corpus.add_argument("--pack-mode", choices=("cut", "atomic"), default="cut",
                          help="sequence packing layout for --seq-len: 'cut' "
                               "concatenates and cuts (docs straddle, zero "
                               "padding), 'atomic' keeps each doc intact in one "
                               "sequence via first-fit-decreasing bin packing")
    p_corpus.add_argument("--split", default=None, metavar="TRAIN,VAL",
                          help="deterministic train/val/test percentages, e.g. "
                               "'98,1' (test gets the remainder); adds a split "
                               "column and partitions the output by it")
    p_corpus.add_argument("--decontaminate", default=None, metavar="BENCH.parquet",
                          help="drop docs sharing word n-grams with this "
                               "benchmark/eval parquet (same id/text columns)")
    p_corpus.add_argument("--decontaminate-ngram", type=int, default=8)
    p_corpus.add_argument("--decontaminate-method", default="broadcast",
                          choices=("broadcast", "bloom"),
                          help="bloom = large benchmarks: bit-test prune before "
                               "the exact join, no gram-set broadcast")
    p_corpus.add_argument("--check-leakage", action="store_true",
                          help="with --split: report how many held-out docs "
                               "share an 8-word gram with the train split")
    p_corpus.add_argument("--dedup-substrings", type=int, default=None,
                          metavar="K",
                          help="after doc-level dedup, excise every "
                               "corpus-duplicated K-char span keeping its "
                               "first occurrence (Lee et al. substring "
                               "dedup) and stitch the remainders")
    p_corpus.add_argument("--dedup-lines", type=int, default=None,
                          metavar="MIN_DOCS",
                          help="drop boilerplate lines (RefinedWeb style): "
                               "a line found in >= MIN_DOCS docs of the "
                               "same --source-col group is template chrome "
                               "and is removed everywhere")
    p_corpus.add_argument("--source-col", default="source",
                          help="grouping column for --dedup-lines "
                               "line-frequency counting")
    p_corpus.add_argument("--drop-surprisal-permille", type=int, default=None,
                          metavar="P",
                          help="CCNet-style LM quality filter: score every "
                               "doc by corpus-trained bigram surprisal and "
                               "drop the most-surprising P per mille "
                               "(threshold via approx percentile)")

    p_dedup = sub.add_parser(
        "dedup-index",
        help="incrementally LSH-index an NDJSON landing dir; flag near-dups at ingest",
    )
    _add_stream_state(p_dedup, "index_dir", "where the LSH index tables live",
                      "*.ndjson doc files", "doc_id long, text string",
                      schema_required=False)
    p_dedup.add_argument("--jaccard-threshold", type=float, default=0.7)

    p_hh = sub.add_parser(
        "heavy-hitters",
        help="fold an NDJSON landing dir into a persistent Count-Min sketch; "
        "report the running top keys",
    )
    _add_stream_state(p_hh, "sketch_dir", "where the sketch tables live",
                      "*.ndjson files", "user_id long, event string")
    p_hh.add_argument("key_col", help="column to count")
    p_hh.add_argument("--depth", type=int, default=4)
    p_hh.add_argument("--width", type=int, default=512)
    p_hh.add_argument("--top-k", type=int, default=50)
    p_hh.add_argument("--window-batches", type=int, default=0,
                      help="report heavy hitters over only the last N "
                           "micro-batches (ring of N mergeable sketches); "
                           "0 = all-time")

    p_qtl = sub.add_parser(
        "quantiles",
        help="fold an NDJSON landing dir into a persistent HDR-style "
        "log-bucket histogram; report running quantiles",
    )
    _add_stream_state(p_qtl, "sketch_dir", "where the histogram table lives",
                      "*.ndjson files", "latency_us long, route string")
    p_qtl.add_argument("value_col", help="non-negative integer column to track")
    p_qtl.add_argument("--sub-bits", type=int, default=5,
                       help="sub-buckets per octave as a power of two; "
                            "relative error <= 2^-sub_bits (default 5 -> ~3%%)")
    p_qtl.add_argument("--q", default="0.5,0.9,0.99",
                       help="comma-separated quantiles to report")
    p_qtl.add_argument("--key-col", default=None,
                       help="report per-key quantiles (e.g. per route); "
                            "state grows with key cardinality")

    p_res = sub.add_parser(
        "reservoir",
        help="fold an NDJSON landing dir into a persistent fixed-size "
        "weighted sample (Efraimidis-Spirakis, deterministic scores)",
    )
    _add_stream_state(p_res, "sketch_dir", "where the reservoir table lives",
                      "*.ndjson files", "doc_id string, w double")
    p_res.add_argument("id_col", help="row id column (drives the md5 score)")
    p_res.add_argument("--k", type=int, default=100, help="sample size")
    p_res.add_argument("--weight-col", default=None,
                       help="weight column: inclusion probability scales "
                            "with weight (A-ES u^(1/w))")

    p_dm = sub.add_parser(
        "drift-monitor",
        help="fold a parquet landing dir into a persistent PSI drift "
        "monitor against a frozen reference snapshot",
    )
    _add_stream_state(p_dm, "monitor_dir", "where the monitor state lives",
                      "parquet files", "x double, ts timestamp")
    p_dm.add_argument("--reference", default=None,
                      help="reference snapshot (parquet path); required on "
                      "first open, then frozen — an established monitor "
                      "never re-reads it, so it may be omitted (or even "
                      "deleted) on re-runs (re-baseline by pointing at a "
                      "fresh monitor_dir)")
    p_dm.add_argument("--column", default=None,
                      help="single numeric column (requires --bucket-width)")
    p_dm.add_argument("--columns", default=None,
                      help="comma-separated numeric columns: the "
                      "multi-column monitor — N columns for one scan "
                      "per batch, per-column grid derived from the "
                      "reference and frozen in the monitor sidecar")
    p_dm.add_argument("--bucket-width", type=float, default=None,
                      help="bucket width (single-column mode only; the "
                      "multi-column grid is reference-derived)")
    p_dm.add_argument("--buckets", type=int, default=20)
    p_dm.add_argument("--categorical", action="store_true",
                      help="treat --column as categorical: incremental "
                      "category-share drift under the reference's frozen "
                      "top-k universe (tail folds into __other__); "
                      "reports PSI + chi-square, no --bucket-width")
    p_dm.add_argument("--top-k", type=int, default=50,
                      help="categorical mode: universe size (default 50)")

    p_opt = sub.add_parser(
        "optimize",
        help="drop superseded table versions (the finalize/vacuum analog; "
        "ref --no-table-optimization opt-out inverted)",
    )
    p_opt.add_argument("output_dir")
    p_opt.add_argument("--tables", nargs="*", default=None,
                       help="table names (default: every table in output_dir)")
    p_opt.add_argument("--keep-versions", type=int, default=1)
    p_opt.add_argument("--keep-changes", type=int, default=None,
                       help="also truncate the change feed to the last N "
                            "committed versions (default: keep all)")

    p_tf = sub.add_parser(
        "train-filter",
        help="train a quality classifier on text stats and score every doc",
    )
    p_tf.add_argument("input_path", help="parquet path with doc_id/text columns")
    p_tf.add_argument("output_path", help="where the per-doc score parquet goes")
    p_tf.add_argument("--id-col", default="doc_id")
    p_tf.add_argument("--text-col", default="text")
    p_tf.add_argument("--label-expr", required=True,
                      help="SQL boolean marking the positive class, e.g. \"source = 'src0'\"")
    p_tf.add_argument("--lr", type=float, default=0.5)
    p_tf.add_argument("--iters", type=int, default=20)
    p_tf.add_argument("--model", choices=["logreg", "nb"], default="logreg",
                      help="logreg = GD on text-stat features (binary); "
                      "nb = multinomial Naive Bayes on words (the "
                      "--label-expr may be any string expression, so nb "
                      "supports multiclass)")

    p_prof = sub.add_parser(
        "profile", help="single-pass column profile (nulls/distinct/min-max) of a parquet path"
    )
    p_prof.add_argument("input_path")
    p_prof.add_argument("--approx", action="store_true",
                        help="HLL-approximate distinct counts (single-pass at any width)")

    p_kanon = sub.add_parser(
        "audit-k",
        help="k-anonymity audit + small-cell-suppressed count release "
        "over quasi-identifier columns of a parquet path",
    )
    p_kanon.add_argument("input_path")
    p_kanon.add_argument("--quasi", required=True,
                         help="comma-separated quasi-identifier columns")
    p_kanon.add_argument("--k", type=int, default=10,
                         help="suppression threshold (cells below this pool "
                         "into one <suppressed> row; default 10)")
    p_kanon.add_argument("--release-to", default=None,
                         help="also write the suppressed count table as "
                         "parquet here")
    p_kanon.add_argument("--sensitive", default=None,
                         help="sensitive column for the l-diversity audit "
                         "(reports achieved l = min distinct sensitive "
                         "values per class)")
    p_kanon.add_argument("--dp-epsilon", type=float, default=None,
                         help="release epsilon-DP noised counts instead of "
                         "exact ones (deterministic Laplace(1/epsilon) keyed "
                         "by --dp-seed; requires --dp-seed)")
    p_kanon.add_argument("--dp-seed", default=None,
                         help="SECRET PRF key for the DP noise; keep it out "
                         "of the published artifact — the noise is only DP "
                         "while this key is secret")
    p_kanon.add_argument("--dp-include-exact", action="store_true",
                         help="keep the exact n_individuals/n_classes/"
                         "min_class_size columns next to n_noised in the "
                         "written DP release (NOT DP — for on-site "
                         "side-by-side auditing only)")

    p_sql = sub.add_parser(
        "sql",
        help="ad-hoc Spark SQL over a directory of parquet tables "
        "(each <name>.parquet registers as view <name>)",
    )
    p_sql.add_argument("tables_dir")
    p_sql.add_argument("query", help="ANSI SQL; views are the dir's table names")
    p_sql.add_argument("--limit", type=int, default=100,
                       help="max rows printed; Spark pushes the limit into "
                       "the plan, so non-aggregating queries short-circuit "
                       "instead of computing the full result")
    p_sql.add_argument("--explain", action="store_true",
                       help="also print the formatted physical plan")

    p_cp = sub.add_parser(
        "changepoints",
        help="CUSUM sustained-shift detection over an ordered series "
        "(optionally per key)",
    )
    p_cp.add_argument("input_path")
    p_cp.add_argument("--value-col", required=True)
    p_cp.add_argument("--order-col", required=True)
    p_cp.add_argument("--key-col", default=None)
    p_cp.add_argument("--kappa", type=float, default=0.5,
                      help="slack in reference sigmas (default 0.5)")
    p_cp.add_argument("--h", type=float, default=5.0,
                      help="decision threshold in sigmas (default 5)")
    p_cp.add_argument("--scan-partitions", type=int, default=None,
                      help="keyless only: run the distributed two-pass "
                      "prefix scan over this many range partitions "
                      "instead of the single-task ordered fold (use for "
                      "long series; results agree to float ulps)")

    p_zo = sub.add_parser(
        "zorder",
        help="rewrite a parquet dataset Z-order-clustered by 1-4 columns "
        "(file-level min/max pruning on every clustered column)",
    )
    p_zo.add_argument("input_path")
    p_zo.add_argument("output_path")
    p_zo.add_argument("--by", required=True,
                      help="comma-separated numeric/date columns (1-4)")
    p_zo.add_argument("--files", type=int, default=16,
                      help="output file count (one Z-range per file)")

    p_exp = sub.add_parser(
        "expect",
        help="data-contract gate: evaluate a JSON list of expectations "
        "(not_null/non_empty/unique/between/in_set/matches/"
        "row_count_between) over a parquet path in ONE scan; "
        "exit 3 on contract failure",
    )
    p_exp.add_argument("input_path")
    p_exp.add_argument("--spec", required=True,
                       help="path to a JSON file holding the expectation "
                       "list, or an inline JSON array")

    p_drift = sub.add_parser(
        "drift",
        help="PSI distribution drift between two parquet snapshots of a "
        "numeric column (reference vs new)",
    )
    p_drift.add_argument("expected_path", help="reference snapshot (parquet)")
    p_drift.add_argument("actual_path", help="new snapshot (parquet)")
    p_drift.add_argument("--column", default=None,
                         help="numeric column to compare (single-column "
                         "mode; requires --bucket-width)")
    p_drift.add_argument("--bucket-width", type=float, default=None,
                         help="fixed histogram bucket width for --column "
                         "(fixed-width binning keeps the comparison "
                         "deterministic)")
    p_drift.add_argument("--columns", default=None,
                         help="comma-separated numeric columns (multi "
                         "mode: one melted pass per side, grid derived "
                         "from the reference's per-column min/max)")
    p_drift.add_argument("--buckets", type=int, default=20,
                         help="bucket count; the last is open-ended")
    p_drift.add_argument("--categorical", action="store_true",
                         help="treat --column as categorical: PSI over "
                         "category shares (reference-defined top-k "
                         "universe, the tail folded into __other__) "
                         "plus chi-square / Cramér's V — no "
                         "--bucket-width")
    p_drift.add_argument("--top-k", type=int, default=50,
                         help="categorical mode: universe size (the "
                         "reference's top-k categories; default 50)")
    p_drift.add_argument("--timeline", default=None, metavar="TIME_COL",
                         help="localize the drift onset: bin the ACTUAL "
                         "snapshot by date_trunc(--period, TIME_COL) and "
                         "report per-period PSI/KS/JS against the frozen "
                         "reference — one scan per side however many "
                         "periods (single-column mode only)")
    p_drift.add_argument("--period", default="day",
                         choices=["hour", "day", "week", "month"],
                         help="timeline granularity (default: day)")

    p_doc = sub.add_parser(
        "doctor",
        help="read-only lake integrity check: pointer/version/change-feed "
        "invariants per table",
    )
    p_doc.add_argument("lake_dir")
    p_doc.add_argument("--sample-files", type=int, default=None,
                       help="cap the schema-drift pass at this many parquet "
                       "footers per version (evenly spaced over the sorted "
                       "listing, first and last always included); default "
                       "reads every footer — set a cap on million-file "
                       "lakes to keep the driver-side sweep to minutes")

    p_stats = sub.add_parser(
        "stats", help="per-table row counts / versions / on-disk bytes for a lake dir"
    )
    p_stats.add_argument("output_dir")
    p_stats.add_argument("--tables", nargs="*", default=None)

    p_roll = sub.add_parser(
        "rollup",
        help="maintain an incremental (count, sum) rollup from a table's change feed",
    )
    p_roll.add_argument("lake_dir", help="directory holding the source ManagedTable")
    p_roll.add_argument("table", help="source table name (merged with change_feed=True)")
    p_roll.add_argument("views_dir", help="directory for the rollup's own table")
    p_roll.add_argument("name", help="rollup table name")
    p_roll.add_argument("--group-by", required=True,
                        help="comma-separated group columns")
    p_roll.add_argument("--value-col", required=True,
                        help="numeric column to sum")
    p_roll.add_argument("--rebuild", action="store_true",
                        help="full-scan recompute (recovery after feed truncation)")

    p_tok = sub.add_parser(
        "tokenizer", help="train BPE merges over a document corpus"
    )
    p_tok.add_argument("input_path", help="parquet path with a text column")
    p_tok.add_argument("--text-col", default="text")
    p_tok.add_argument("--merges", type=int, default=32)
    p_tok.add_argument("--out", default=None,
                       help="also write the merge table as parquet here")

    p_search = sub.add_parser(
        "search", help="BM25 sparse retrieval over a documents parquet"
    )
    p_search.add_argument("input_path", help="parquet with doc_id/text columns")
    p_search.add_argument("--query", action="append", default=None,
                          help="query text (repeatable; query_id = its index)")
    p_search.add_argument("--k", type=int, default=10)
    p_search.add_argument("--id-col", default="doc_id")
    p_search.add_argument("--text-col", default="text")
    p_search.add_argument("--k1", type=float, default=1.2)
    p_search.add_argument("--b", type=float, default=0.75)
    p_search.add_argument("--more-like-this", default=None,
                          help="comma-separated doc ids: hybrid "
                          "query-by-example (BM25 on the doc's text "
                          "fused with its embedding's cosine neighbors "
                          "via RRF; needs --embeddings)")
    p_search.add_argument("--embeddings", default=None,
                          help="embeddings parquet for --more-like-this")
    p_search.add_argument("--depth", type=int, default=20,
                          help="per-retriever list depth before fusion")
    p_search.add_argument("--ann-index", default=None,
                          help="serve the dense side of --more-like-this "
                          "from a persistent ann-index root instead of "
                          "brute force (partition-pruned probes)")
    p_search.add_argument("--n-probe", type=int, default=4,
                          help="probes per query when --ann-index is used")

    p_annix = sub.add_parser(
        "ann-index",
        help="persistent partition-pruned IVF index: build centroids, "
        "ingest a landing dir incrementally, search probed lists only",
    )
    p_annix.add_argument("action",
                         choices=["build", "ingest", "search", "stats", "rebuild"])
    p_annix.add_argument("index_dir", help="index root (centroids + lists)")
    p_annix.add_argument("--input", default=None,
                         help="build: corpus parquet to train on; "
                         "ingest: landing dir to tail")
    p_annix.add_argument("--centroids", type=int, default=16)
    p_annix.add_argument("--query-ids", default="0,1,2,3,4",
                         help="search: comma-separated ids (looked up in "
                         "the index's own lists)")
    p_annix.add_argument("--k", type=int, default=5)
    p_annix.add_argument("--n-probe", type=int, default=4)
    p_annix.add_argument("--id-col", default="vec_id")
    p_annix.add_argument("--vec-col", default="embedding")
    p_annix.add_argument("--pq-sub", type=int, default=None,
                         help="build: store PQ codes instead of raw "
                         "vectors (subspace count; IVFPQ)")
    p_annix.add_argument("--pq-k", type=int, default=32,
                         help="build: codewords per PQ subspace")
    p_annix.add_argument("--vectors", default=None,
                         help="search: parquet with the original vectors "
                         "(REQUIRED for a PQ index: query lookup + exact "
                         "re-rank of the ADC shortlist)")
    p_annix.add_argument("--into", default=None,
                         help="rebuild: fresh index root to compact into "
                         "(same centroids, one-pass re-ingest of --input)")

    p_ann = sub.add_parser(
        "ann", help="approximate-nearest-neighbor search over an embeddings parquet"
    )
    p_ann.add_argument("input_path", help="parquet with vec_id/embedding columns")
    p_ann.add_argument("--query-ids", default="0,1,2,3,4",
                       help="comma-separated vec_ids to use as queries")
    p_ann.add_argument("--k", type=int, default=5)
    p_ann.add_argument("--method", default="lsh",
                       choices=["brute", "lsh", "ivf", "pq", "rrf", "negatives"],
                       help="brute=exact cosine; lsh/ivf=bucketed cosine ANN; "
                            "pq=product-quantized L2 ADC; rrf=hybrid "
                            "reciprocal-rank fusion of exact cosine + "
                            "int8 MIPS rankings; negatives=hard-negative "
                            "mining (top-k similar but sub-duplicate)")
    p_ann.add_argument("--dup-threshold", type=float, default=0.93,
                       help="for --method negatives: cosine at/above this "
                            "is a near-duplicate (false negative) and is "
                            "excluded")
    p_ann.add_argument("--id-col", default="vec_id")
    p_ann.add_argument("--vec-col", default="embedding")

    args = parser.parse_args(argv)
    spark = get_spark(app_name=f"cumulus-etl-spark-{args.verb}")

    if args.verb == "etl":
        from cumulus_etl_spark.etl import run_etl

        summary = run_etl(
            spark,
            args.input_dir,
            args.output_dir,
            args.phi_dir,
            tasks=args.tasks,
            philter=args.philter,
            philter_bare_names=args.philter_bare_names,
            group_name=args.group_name,
            export_datetime=args.export_datetime,
            output_format=args.output_format,
            batch_size=args.batch_size,
            errors_to=args.errors_to,
        )
        print(json.dumps(summary, indent=2))
        return 0 if summary["success"] else 1
    if args.verb == "init":
        from cumulus_etl_spark.etl import run_init

        print(json.dumps({"created": run_init(spark, args.output_dir, tasks=args.tasks)}))
        return 0
    if args.verb == "convert":
        from cumulus_etl_spark.etl import run_convert

        print(json.dumps({"converted": run_convert(spark, args.original_dir, args.target_dir)}))
        return 0
    if args.verb == "etl-i2b2":
        from cumulus_etl_spark.etl.i2b2_pipeline import run_etl_i2b2

        summary = run_etl_i2b2(
            spark, args.input_dir, args.output_dir, args.phi_dir, philter=args.philter
        )
        print(json.dumps(summary, indent=2))
        return 0 if summary["success"] else 1
    if args.verb == "sample":
        from cumulus_etl_spark.etl.sample import sample_notes, sample_refs_frame

        sampled = sample_notes(
            spark, args.input_dir, args.count, seed=args.seed,
            select_words=args.select_words, select_regex=args.select_regex,
            select_by_csv=args.select_by_csv,
            select_by_anon_csv=args.select_by_anon_csv,
            phi_dir=args.phi_dir,
            resource_types=tuple(_csv(args.resource_types)),
        )
        if args.columns or args.export_to:
            # bounded by --count: the sample is chart-review sized
            sampled = sampled.localCheckpoint(eager=True)
        if args.export_to:
            sampled.drop("note_text").write.mode("overwrite").json(args.export_to)
        if args.columns:
            # Strict parse: strip whitespace, reject unknown names —
            # '--columns note, subject' must mean {note, subject}, and a
            # typo must error instead of silently shrinking the CSV.
            requested = _csv(args.columns)
            allowed = {"note", "subject", "encounter"}
            unknown = [t for t in requested if t not in allowed]
            if unknown:
                raise SystemExit(
                    f"unknown --columns name(s) {unknown}; "
                    f"choose from {sorted(allowed)}"
                )
            cols = set(requested)
            refs = sample_refs_frame(sampled, cols)
            header = ",".join(refs.columns)
            lines = [header] + [
                ",".join("" if v is None else str(v) for v in r) for r in refs.collect()
            ]
            if args.output == "-":
                print("\n".join(lines))
            else:
                with open(args.output, "w") as fh:
                    fh.write("\n".join(lines) + "\n")
                print(json.dumps({"csv": args.output, "rows": len(lines) - 1}))
        elif args.out:
            sampled.write.mode("overwrite").json(args.out)
            print(json.dumps({"written": args.out}))
        else:
            print(json.dumps({"sampled": sampled.count()}))
        return 0
    if args.verb == "nlp":
        summary = _run_nlp_verb(spark, args)
        print(json.dumps(summary, indent=2))
        return 0
    if args.verb == "upload-notes":
        from cumulus_etl_spark.etl.labelstudio import LabelStudioClient
        from cumulus_etl_spark.etl.upload_notes import run_upload_notes

        with open(args.ls_token) as fh:
            token = fh.read().strip()
        client = LabelStudioClient(args.label_studio_url, token, args.ls_project)
        summary = run_upload_notes(
            spark,
            args.input_dir,
            args.phi_dir,
            client,
            select_words=args.select_words,
            select_regex=args.select_regex,
            select_by_csv=args.select_by_csv,
            select_by_anon_csv=args.select_by_anon_csv,
            select_by_athena_table=args.select_by_athena_table,
            export_to=args.export_to,
            label_by_csv=args.label_by_csv,
            highlight_words=args.highlight_words,
            highlight_regexes=args.highlight_regexes,
            philter_mode=args.philter,
            grouping=args.grouping,
            count=args.count,
            seed=args.seed,
            overwrite=args.overwrite,
        )
        print(json.dumps(summary, indent=2))
        return 0
    if args.verb == "corpus":
        from cumulus_etl_spark.operators.corpus import (
            pack_by_token_budget,
            prepare_corpus,
            token_budget_summary,
        )

        docs = spark.read.parquet(args.input_path)
        survivors = prepare_corpus(
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            lang=None if args.lang == "any" else args.lang,
            min_tokens=args.min_tokens,
            jaccard_threshold=args.jaccard_threshold,
            survivor=args.dedup_survivor.replace("-", "_"),
        )
        report = {}
        if args.dedup_substrings:
            from cumulus_etl_spark.operators.corpus import remove_repeated_spans

            cleaned = remove_repeated_spans(
                survivors, args.id_col, args.text_col, k=args.dedup_substrings
            ).localCheckpoint(eager=True)  # feeds both the stats agg and the
            # survivors rejoin below — without the pin the whole two-shuffle
            # gram-window lineage runs twice
            stats = cleaned.agg(
                F.sum("n_removed_spans").cast("bigint").alias("spans"),
                F.sum(F.col("orig_len") - F.col("clean_len"))
                .cast("bigint")
                .alias("chars"),
            ).collect()[0]
            report["substring_dedup"] = {
                "k": args.dedup_substrings,
                "removed_spans": int(stats["spans"] or 0),
                "removed_chars": int(stats["chars"] or 0),
            }
            survivors = _swap_clean_text(survivors, cleaned, args.id_col, args.text_col)
        if args.dedup_lines:
            from cumulus_etl_spark.operators.corpus import remove_boilerplate_lines

            if args.source_col not in survivors.columns:
                raise SystemExit(
                    f"--dedup-lines needs column {args.source_col!r} in the input "
                    "(set --source-col)"
                )
            cleaned_l = remove_boilerplate_lines(
                survivors,
                args.id_col,
                args.text_col,
                source_col=args.source_col,
                min_docs=args.dedup_lines,
            ).localCheckpoint(eager=True)  # feeds the stats agg AND the rejoin
            lstats = cleaned_l.agg(
                F.sum(F.col("n_lines") - F.col("n_kept"))
                .cast("bigint")
                .alias("lines")
            ).collect()[0]
            report["line_dedup"] = {
                "min_docs": args.dedup_lines,
                "removed_lines": int(lstats["lines"] or 0),
            }
            survivors = _swap_clean_text(survivors, cleaned_l, args.id_col, args.text_col)
        if args.decontaminate:
            from cumulus_etl_spark.operators.corpus import decontaminate

            bench = spark.read.parquet(args.decontaminate)
            flags = decontaminate(
                survivors, bench, id_col=args.id_col, text_col=args.text_col,
                ngram=args.decontaminate_ngram, method=args.decontaminate_method,
            )
            # Pin the (tiny, ids-only) drop list: the count() and the
            # anti-join below would otherwise BOTH re-derive the flags —
            # re-exploding corpus grams and, with method=bloom,
            # rebuilding the bloom filter a second time.
            drop_ids = (
                flags.filter(F.col("contaminated"))
                .select(args.id_col)
                .localCheckpoint(eager=True)
            )
            n_dropped = drop_ids.count()
            survivors = survivors.join(drop_ids, args.id_col, "anti")
            report["decontamination"] = {
                "benchmark": args.decontaminate,
                "ngram": args.decontaminate_ngram,
                "method": args.decontaminate_method,
                "dropped": int(n_dropped),
            }
        if args.drop_surprisal_permille:
            from cumulus_etl_spark.operators.textstats import lm_surprisal_scores

            scores = lm_surprisal_scores(
                survivors, id_col=args.id_col, text_col=args.text_col
            ).localCheckpoint(eager=True)  # threshold quantile + filter join
            # approx percentile threshold (CCNet buckets by perplexity the
            # same way); P per mille of the SCORED docs drop
            frac = 1.0 - args.drop_surprisal_permille / 1000.0
            cut = scores.agg(
                F.percentile_approx("score_milli", frac).alias("t")
            ).collect()[0]["t"]
            n_dropped = 0  # cut is None: nothing scoreable (no doc has >= 2 tokens)
            if cut is not None:
                # anti-join on the DROP set: docs too short to score (no
                # bigrams) are not penalized
                drop_ids = scores.filter(
                    F.col("score_milli") > F.lit(cut)
                ).select(args.id_col)
                n_dropped = drop_ids.count()
                survivors = survivors.join(drop_ids, args.id_col, "anti")
            report["surprisal_filter"] = {
                "permille": args.drop_surprisal_permille,
                "score_milli_cutoff": None if cut is None else int(cut),
                "dropped": int(n_dropped),
            }
        part_cols = ["shard_id"]
        if args.split:
            from cumulus_etl_spark.operators.corpus import hash_split

            train_pct, val_pct = (int(x) for x in args.split.split(","))
            survivors = hash_split(
                survivors, id_col=args.id_col, train_pct=train_pct, val_pct=val_pct
            )
            part_cols = ["split", "shard_id"]
        sharded = pack_by_token_budget(
            survivors, budget=args.shard_tokens, order_col=args.id_col
        )
        # one directory per shard; shard files hold full cleaned rows
        sharded.write.mode("overwrite").partitionBy(*part_cols).parquet(args.output_dir)
        if args.split:
            # read BACK the parquet just written: the report and leakage
            # jobs scan the materialized output instead of re-executing
            # the clean+LSH-dedup+pack lineage for each extra action
            written = spark.read.parquet(args.output_dir)
            report["splits"] = {
                r["split"]: {"n_docs": r["n_docs"], "total_tokens": r["total_tokens"]}
                for r in written.groupBy("split")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                )
                .collect()
            }
            if args.check_leakage:
                from cumulus_etl_spark.operators.corpus import gram_leakage_hits

                leaked = (
                    gram_leakage_hits(written, args.id_col, args.text_col, "split")
                    .groupBy("split")
                    .agg(F.countDistinct(args.id_col).alias("n_leaked"))
                )
                held_splits = [
                    k for k in report["splits"] if k != "train"
                ]
                found = {r["split"]: r["n_leaked"] for r in leaked.collect()}
                report["leakage"] = {k: found.get(k, 0) for k in held_splits}
        if args.seq_len:
            from cumulus_etl_spark.operators.corpus import (
                pack_sequences,
                pack_sequences_atomic,
            )

            if args.pack_mode == "atomic":
                seqs = pack_sequences_atomic(
                    sharded, seq_len=args.seq_len,
                    id_col=args.id_col, text_col=args.text_col,
                )
            else:
                seqs = pack_sequences(
                    sharded, seq_len=args.seq_len,
                    id_col=args.id_col, text_col=args.text_col,
                )
            seq_dir = os.path.join(args.output_dir, "sequences")
            seqs.write.mode("overwrite").parquet(seq_dir)
            written = spark.read.parquet(seq_dir)
            report["sequences"] = {
                "seq_len": args.seq_len,
                "pack_mode": args.pack_mode,
                "n_sequences": written.count(),
                "output": seq_dir,
            }
            if args.pack_mode == "atomic":
                pad = written.agg(
                    F.sum("pad_tokens").alias("p"), F.sum("n_tokens").alias("t")
                ).collect()[0]
                report["sequences"]["pad_tokens"] = int(pad["p"] or 0)
                report["sequences"]["packed_tokens"] = int(pad["t"] or 0)
        stats = token_budget_summary(sharded).orderBy("shard_id").collect()
        report.update(
            {
                "input_docs": docs.count(),
                "surviving_docs": sum(r["n_docs"] for r in stats),
                "shards": [
                    {"shard_id": r["shard_id"], "n_docs": r["n_docs"],
                     "total_tokens": r["total_tokens"]}
                    for r in stats
                ],
                "output": args.output_dir,
            }
        )
        print(json.dumps(report))
        return 0
    if args.verb == "train-filter":
        from cumulus_etl_spark.functions import check_literal_parsing, sql_ident
        from cumulus_etl_spark.operators import textstats as _T
        from cumulus_etl_spark.operators.mlstats import (
            auc_roc,
            logreg_train_gd,
            score_logreg,
        )

        docs = spark.read.parquet(args.input_path)
        if args.model == "nb":
            from cumulus_etl_spark.operators.mlstats import nb_score, nb_train

            label = F.expr(args.label_expr)
            wc, stats = nb_train(docs, args.text_col, label)
            scored = nb_score(docs, wc, stats, args.id_col, args.text_col)
            pred = scored.filter(F.col("rank") == 1).select(
                F.col("id").alias(args.id_col),
                F.col("label").alias("predicted"),
                "log_prob",
            )
            pred.write.mode("overwrite").parquet(args.output_path)
            truth = docs.select(
                args.id_col, label.cast("string").alias("truth")
            )
            joined = spark.read.parquet(args.output_path).join(truth, args.id_col)
            n = joined.count()
            correct = joined.filter(F.col("predicted") == F.col("truth")).count()
            classes = {
                r["label"]: {"n_docs": r["n_docs"], "n_tokens": r["n_tokens"]}
                for r in stats.collect()
            }
            print(json.dumps({
                "model": "nb",
                "n_docs": n,
                "classes": classes,
                "train_accuracy": round(correct / max(n, 1), 4),
                "output": args.output_path,
            }))
            return 0
        feat_names = ["n_tokens", "n_punct", "n_stopwords", "mean_word_len"]
        check_literal_parsing(spark)
        words = _T.words_array(sql_ident(args.text_col))
        featurized = docs.select(
            args.id_col,
            F.expr(args.label_expr).cast("double").alias("__label"),
            _T.token_count(args.text_col).cast("double").alias("n_tokens"),
            _T.punct_count(args.text_col).cast("double").alias("n_punct"),
            _T.stopword_count(args.text_col).cast("double").alias("n_stopwords"),
            F.expr(_T.repetition_features(words)["mean_word_len"]).alias("mean_word_len"),
        ).localCheckpoint(eager=True)  # featurize once, not once per GD pass
        w, losses, std_stats = logreg_train_gd(
            featurized, feat_names, F.col("__label"), lr=args.lr, iters=args.iters
        )
        score = score_logreg(feat_names, w, std_stats)
        scored = featurized.select(
            args.id_col, F.col("__label").alias("label"), score.alias("score")
        )
        scored.write.mode("overwrite").parquet(args.output_path)
        auc = auc_roc(spark.read.parquet(args.output_path))
        print(json.dumps({
            "n_docs": featurized.count(),
            "weights": {n: w[i] for i, n in enumerate(feat_names)} | {"intercept": w[-1]},
            "final_loss": losses[-1],
            "auc": auc,
            "output": args.output_path,
        }))
        return 0
    if args.verb == "dedup-index":
        from cumulus_etl_spark.streaming.dedup_index import incremental_dedup_ingest

        idx = incremental_dedup_ingest(
            spark,
            args.input_dir,
            args.index_dir,
            _checkpoint(args, args.index_dir),
            schema=args.schema,
            threshold=args.jaccard_threshold,
        )
        dups = idx.known_dups()
        found = (
            []
            if dups is None
            else [
                {"id": r["id"], "dup_of": r["dup_of"], "jaccard": r["jaccard"]}
                for r in dups.orderBy("id", "dup_of").collect()
            ]
        )
        print(json.dumps({"near_dups": found, "index": args.index_dir}))
        return 0
    if args.verb == "heavy-hitters":
        from cumulus_etl_spark.streaming.heavy_hitters import streaming_heavy_hitters

        cms = streaming_heavy_hitters(
            spark,
            args.input_dir,
            args.sketch_dir,
            _checkpoint(args, args.sketch_dir),
            args.key_col,
            args.schema,
            window_batches=args.window_batches,
            depth=args.depth,
            width=args.width,
            top_k=args.top_k,
        )
        hh = cms.heavy_hitters()
        top = (
            []
            if hh is None
            else [{"key": r["k"], "estimate": r["estimate"]} for r in hh.collect()]
        )
        print(json.dumps({"heavy_hitters": top, "sketch": args.sketch_dir}))
        return 0
    if args.verb == "quantiles":
        from cumulus_etl_spark.streaming.quantiles import streaming_quantiles

        hdr = streaming_quantiles(
            spark,
            args.input_dir,
            args.sketch_dir,
            _checkpoint(args, args.sketch_dir),
            args.value_col,
            args.schema,
            sub_bits=args.sub_bits,
            key_col=args.key_col,
        )
        qs = [float(x) for x in _csv(args.q)]
        out = hdr.quantiles(qs)
        rep = (
            []
            if out is None
            else [r.asDict() for r in out.collect()]
        )
        print(json.dumps({"quantiles": rep, "sketch": args.sketch_dir}))
        return 0
    if args.verb == "reservoir":
        from cumulus_etl_spark.streaming.reservoir import streaming_reservoir

        res = streaming_reservoir(
            spark,
            args.input_dir,
            args.sketch_dir,
            _checkpoint(args, args.sketch_dir),
            args.id_col,
            args.schema,
            k=args.k,
            weight_col=args.weight_col,
        )
        out = res.sample()
        rep = [] if out is None else [r.asDict() for r in out.collect()]
        print(json.dumps({"sample": rep, "k": args.k, "sketch": args.sketch_dir}))
        return 0
    if args.verb == "drift-monitor":
        from cumulus_etl_spark.streaming import drift as SD

        if args.column and args.columns:
            raise SystemExit(
                "drift-monitor: pass at most one of --column / --columns"
            )
        stream = (spark, args.input_dir, args.monitor_dir,
                  _checkpoint(args, args.monitor_dir), args.schema)
        # lazy loader: only resolved (and the path only required to
        # exist) when the monitor has no frozen baseline yet
        reference = (
            (lambda: spark.read.parquet(args.reference)) if args.reference else None
        )
        if args.categorical:
            if args.columns or args.bucket_width is not None:
                raise SystemExit(
                    "drift-monitor: --categorical takes only --column "
                    "(and --top-k); no bucket grid, no multi mode"
                )
            # --column may be omitted on reopen (sidecar); a first open
            # without it fails loudly inside the monitor
            mon = SD.streaming_categorical_drift(
                *stream, args.column, reference, top_k=args.top_k
            )
        elif args.columns:
            if args.bucket_width is not None:
                raise SystemExit(
                    "drift-monitor: --bucket-width is single-column "
                    "only (the multi-column grid is reference-derived)"
                )
            mon = SD.streaming_drift_multi(
                *stream, _csv(args.columns), reference, n_buckets=args.buckets
            )
        elif not args.column:
            raise SystemExit(
                "drift-monitor: pass one of --column / --columns "
                "(reopening an established single-column monitor may "
                "still omit --bucket-width; it loads from the sidecar)"
            )
        else:
            mon = SD.streaming_psi(
                *stream, args.column, reference,
                bucket_width=args.bucket_width, n_buckets=args.buckets,
            )
        print(json.dumps({**mon.report_dict(), "monitor": args.monitor_dir}))
        return 0
    if args.verb == "optimize":
        from cumulus_etl_spark.sinks import ManagedTable

        report = {}
        for name in _lake_tables(args.output_dir, args.tables):
            tbl = ManagedTable(spark, args.output_dir, name)
            before = tbl.versions()
            feed_before = (
                len(tbl.change_versions()) if args.keep_changes is not None else 0
            )
            tbl.finalize(keep_versions=args.keep_versions,
                         keep_changes=args.keep_changes)
            report[name] = {"dropped": len(before) - len(tbl.versions()),
                            "kept": len(tbl.versions())}
            if args.keep_changes is not None:
                report[name]["feed_dropped"] = feed_before - len(tbl.change_versions())
        print(json.dumps({"optimized": report}))
        return 0
    if args.verb == "profile":
        from cumulus_etl_spark.operators.profile import profile_columns

        prof = profile_columns(spark.read.parquet(args.input_path), approx=args.approx)
        rows = prof.collect()
        print(json.dumps({
            "n_rows": rows[0]["n_rows"] if rows else 0,
            "columns": {
                r["column_name"]: {
                    "dtype": r["dtype"], "n_nulls": r["n_nulls"],
                    "n_distinct": r["n_distinct"],
                    "min": r["min_num"], "max": r["max_num"],
                }
                for r in rows
            },
            "approx_distinct": bool(args.approx),
        }))
        return 0
    if args.verb == "audit-k":
        from cumulus_etl_spark.operators.privacy import (
            k_anonymity_histogram,
            l_diversity,
            small_cell_release,
        )

        df = spark.read.parquet(args.input_path)
        qi = _csv(args.quasi)
        _require_columns("audit-k", df, qi + ([args.sensitive] if args.sensitive else []))
        if args.dp_epsilon is not None and not args.dp_seed:
            raise SystemExit(
                "audit-k: --dp-epsilon requires --dp-seed (a secret PRF "
                "key); deterministic noise without a secret key is "
                "reversible, not DP"
            )
        hist = k_anonymity_histogram(df, qi).collect()
        # The exact release drives the on-site accounting below; when DP
        # is requested the WRITTEN artifact is the noised one (exact
        # counts excluded unless --dp-include-exact explicitly opts in).
        release = small_cell_release(df, qi, k=args.k)
        if args.release_to:
            written = release
            if args.dp_epsilon is not None:
                written = small_cell_release(
                    df, qi, k=args.k, epsilon=args.dp_epsilon,
                    dp_seed=args.dp_seed,
                    include_exact=args.dp_include_exact,
                )
            written.write.mode("overwrite").parquet(args.release_to)
        rel_rows = release.collect()
        pooled = [r for r in rel_rows if r["pooled"]]
        report = {
            "quasi_identifiers": qi,
            "k_threshold": args.k,
            "achieved_k": min((r["class_size"] for r in hist), default=0),
            "n_classes": sum(r["n_classes"] for r in hist),
            "n_individuals": sum(r["n_individuals"] for r in hist),
            "class_size_histogram": {str(r["class_size"]): r["n_classes"] for r in hist},
            "released_cells": len(rel_rows) - len(pooled),
            "suppressed_classes": sum(r["n_classes"] for r in pooled),
            "suppressed_individuals": sum(r["n_individuals"] for r in pooled),
            "release_written_to": args.release_to,
        }
        if args.sensitive:
            ldf = l_diversity(df, qi, args.sensitive)
            lrow = ldf.agg(F.min("l").alias("lmin")).collect()[0]
            report["sensitive_column"] = args.sensitive
            report["achieved_l"] = lrow["lmin"]
        if args.dp_epsilon is not None:
            report["dp_epsilon"] = args.dp_epsilon
        print(json.dumps(report))
        return 0
    if args.verb == "expect":
        from cumulus_etl_spark.operators.expectations import check_expectations

        raw = args.spec
        if not raw.lstrip().startswith("["):
            with open(raw) as fh:
                raw = fh.read()
        spec = json.loads(raw)
        report = check_expectations(spark.read.parquet(args.input_path), spec)
        print(json.dumps(report))
        return 0 if report["passed"] else 3
    if args.verb == "drift":
        from cumulus_etl_spark.operators import drift as D

        if bool(args.column) == bool(args.columns):
            raise SystemExit("drift: pass exactly one of --column / --columns")
        if args.categorical and (args.columns or args.timeline
                                 or args.bucket_width is not None):
            raise SystemExit(
                "drift: --categorical takes only --column (and --top-k); "
                "no bucket grid, no timeline, no multi mode"
            )
        if args.column and not args.categorical and args.bucket_width is None:
            raise SystemExit("drift: --column requires --bucket-width")
        if args.timeline and args.columns:
            raise SystemExit("drift: --timeline is single-column mode only")
        expected = spark.read.parquet(args.expected_path)
        actual = spark.read.parquet(args.actual_path)
        want_cols = [args.column] if args.column else _csv(args.columns)
        for side, df in (("expected", expected), ("actual", actual)):
            missing = [c for c in want_cols if c not in df.columns]
            if missing:
                raise SystemExit(
                    f"drift: column(s) {missing} not in the {side} "
                    f"snapshot; it has {df.columns}"
                )
        # every report quotes its one collected histogram or grid: no
        # extra scans for the verdict, KS/JS or chi-square
        if args.categorical:
            rows = D.categorical_drift(
                expected, actual, args.column, top_k=args.top_k
            ).collect()
            print(json.dumps({
                "column": args.column,
                "mode": "categorical",
                **D.categorical_summary(rows),
                "categories": [r.asDict() for r in rows],
            }))
            return 0
        if args.columns:
            per = D.psi_drift_multi(
                expected, actual, want_cols, n_buckets=args.buckets
            ).collect()
            print(json.dumps(D.multi_summary(per, want_cols)))
            return 0
        if args.timeline:
            if args.timeline not in actual.columns:
                raise SystemExit(
                    f"drift: timeline column {args.timeline!r} not in the "
                    f"actual snapshot; it has {actual.columns}"
                )
            grid = D.psi_drift_timeline(
                expected, actual, args.column, args.timeline,
                period=args.period, bucket_width=args.bucket_width,
                n_buckets=args.buckets,
            ).collect()
            print(json.dumps({
                "column": args.column,
                "period": args.period,
                **D.timeline_summary(grid),
            }))
            return 0
        rows = D.psi_drift(
            expected, actual, args.column,
            bucket_width=args.bucket_width, n_buckets=args.buckets,
        ).collect()
        print(json.dumps({
            "column": args.column,
            **D.grid_summary(rows),
            **D.totals(rows),
            "buckets": [r.asDict() for r in rows],
        }))
        return 0
    if args.verb == "changepoints":
        from cumulus_etl_spark.operators.timeseries import cusum_changepoints

        df = spark.read.parquet(args.input_path)
        _require_columns("changepoints", df, [args.value_col, args.order_col] + (
            [args.key_col] if args.key_col else []
        ))
        if args.scan_partitions and args.key_col:
            raise SystemExit(
                "changepoints: --scan-partitions is the keyless scan; "
                "per-key series already parallelize across keys"
            )
        if args.scan_partitions:
            from cumulus_etl_spark.operators.timeseries import (
                cusum_changepoints_distributed,
            )

            out = cusum_changepoints_distributed(
                df, args.value_col, args.order_col,
                kappa=args.kappa, h=args.h,
                scan_partitions=args.scan_partitions,
            )
        else:
            out = cusum_changepoints(
                df, args.value_col, args.order_col, key_col=args.key_col,
                kappa=args.kappa, h=args.h,
            )
        alarms = out.filter(F.col("changepoint")).select(
            *( [args.key_col] if args.key_col else [] ),
            args.order_col,
            args.value_col,
            F.round("cusum_pos", 3).alias("cusum_pos"),
            F.round("cusum_neg", 3).alias("cusum_neg"),
        ).collect()
        print(json.dumps({
            "n_rows": out.count(),
            "n_changepoints": len(alarms),
            "changepoints": [
                {k: (str(v) if not isinstance(v, (int, float, bool)) else v)
                 for k, v in r.asDict().items()}
                for r in alarms
            ][:200],
            "kappa": args.kappa, "h": args.h,
        }))
        return 0
    if args.verb == "zorder":
        from cumulus_etl_spark.operators.zorder import zorder_rewrite

        df = spark.read.parquet(args.input_path)
        cols = _csv(args.by)
        _require_columns("zorder", df, cols)
        zorder_rewrite(df, cols, num_files=args.files).write.mode(
            "overwrite"
        ).parquet(args.output_path)
        out = spark.read.parquet(args.output_path)
        print(json.dumps({
            "rows": out.count(),
            "files": len(out.inputFiles()),
            "clustered_by": cols,
            "output": args.output_path,
        }))
        return 0
    if args.verb == "doctor":
        from cumulus_etl_spark.sinks.doctor import diagnose_lake

        report = diagnose_lake(args.lake_dir, sample_files=args.sample_files)
        print(json.dumps(report))
        return 0 if report["status"] != "critical" else 2
    if args.verb == "sql":
        import glob as _glob

        registered = []
        for p in sorted(_glob.glob(os.path.join(args.tables_dir, "*.parquet"))):
            name = os.path.basename(p)[: -len(".parquet")]
            if name.isidentifier():
                spark.read.parquet(p).createOrReplaceTempView(name)
                registered.append(name)
        if not registered:
            raise SystemExit(f"sql: no <name>.parquet tables under {args.tables_dir}")
        out = spark.sql(args.query)
        if args.explain:
            out.explain("formatted")
        rows = out.limit(args.limit).collect()
        print(json.dumps({
            "tables": registered,
            "columns": out.columns,
            "rows": [[None if v is None else str(v) for v in r] for r in rows],
            "row_limit": args.limit,
        }))
        return 0
    if args.verb == "rollup":
        from cumulus_etl_spark.sinks import ManagedTable
        from cumulus_etl_spark.sinks.incremental_view import IncrementalRollup

        src = ManagedTable(spark, args.lake_dir, args.table)
        roll = IncrementalRollup(
            spark, src, args.views_dir, args.name,
            _csv(args.group_by),
            args.value_col,
        )
        if args.rebuild:
            version = roll.rebuild()
            print(json.dumps({"rebuilt_to_version": version}))
        else:
            applied = roll.refresh()
            print(json.dumps({
                "applied_commits": applied,
                "at_version": roll.applied_version(),
            }))
        return 0
    if args.verb == "tokenizer":
        from cumulus_etl_spark.operators.textstats import bpe_train_merges

        merges = bpe_train_merges(
            spark.read.parquet(args.input_path), args.text_col, n_merges=args.merges
        )
        rows = merges.orderBy("merge_round").collect()
        if args.out:
            merges.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "n_merges": len(rows),
            "merges": [
                {"round": r["merge_round"], "pair": r["pair"], "count": r["n"]}
                for r in rows
            ],
        }))
        return 0
    if args.verb == "search":
        from cumulus_etl_spark.operators.textstats import bm25_topk

        if bool(args.query) == bool(args.more_like_this):
            raise SystemExit("search: pass exactly one of --query / --more-like-this")
        docs = spark.read.parquet(args.input_path)
        if args.more_like_this:
            if not args.embeddings:
                raise SystemExit("search --more-like-this needs --embeddings")
            from cumulus_etl_spark.operators.retrieval import hybrid_more_like_this

            qids = [int(x) for x in _csv(args.more_like_this)]
            embs = spark.read.parquet(args.embeddings)
            dense = None
            if args.ann_index:
                from cumulus_etl_spark.streaming.ann_index import IvfIndex

                idx = IvfIndex(spark, args.ann_index)
                lake = embs if idx.codebooks() is not None else None
                dense = lambda qv, d: idx.search(  # noqa: E731
                    qv, k=d, n_probe=args.n_probe, refine_with=lake
                )
            out = hybrid_more_like_this(
                docs, embs, qids,
                k=args.k, depth=args.depth,
                doc_id_col=args.id_col, text_col=args.text_col,
                dense_retriever=dense,
            )
            hits = [r.asDict() for r in out.collect()]
            print(json.dumps({"hits": hits, "mode": "hybrid_more_like_this"}))
            return 0
        qdf = spark.createDataFrame(
            [(str(i), q) for i, q in enumerate(args.query)],
            "query_id string, query string",
        )
        out = bm25_topk(
            docs, qdf, k=args.k, id_col=args.id_col, text_col=args.text_col,
            k1=args.k1, b=args.b,
        )
        hits = [r.asDict() for r in out.collect()]
        print(json.dumps({"hits": hits, "queries": args.query}))
        return 0
    if args.verb == "ann-index":
        from cumulus_etl_spark.streaming.ann_index import IvfIndex

        idx = IvfIndex(spark, args.index_dir, id_col=args.id_col, vec_col=args.vec_col)
        if args.action == "build":
            if not args.input:
                raise SystemExit("ann-index build needs --input (corpus parquet)")
            n = idx.build(
                spark.read.parquet(args.input), n_centroids=args.centroids,
                pq_sub=args.pq_sub, pq_k=args.pq_k,
            )
            print(json.dumps({"built": args.index_dir, "n_centroids": n,
                              "pq_sub": args.pq_sub}))
        elif args.action == "ingest":
            if not args.input:
                raise SystemExit("ann-index ingest needs --input (landing dir)")
            idx.ingest(args.input)
            n = spark.read.parquet(idx.lists_dir).count()
            print(json.dumps({"ingested_from": args.input, "index_rows": n}))
        elif args.action == "stats":
            print(json.dumps(idx.stats()))
        elif args.action == "rebuild":
            if not args.into or not args.input:
                raise SystemExit(
                    "ann-index rebuild needs --into (new root) and "
                    "--input (landing dir)"
                )
            new = idx.rebuild_into(args.into, args.input)
            print(json.dumps({
                "rebuilt_into": args.into,
                "stats": new.stats(),
            }))
        else:  # search
            qids = [int(x) for x in _csv(args.query_ids)]
            is_pq = idx.codebooks() is not None
            if is_pq and not args.vectors:
                raise SystemExit(
                    "ann-index search on a PQ index needs --vectors "
                    "(the lists hold codes, not raw vectors)"
                )
            if args.vectors:
                lake = spark.read.parquet(args.vectors)
                queries = lake.filter(F.col(args.id_col).isin(qids))
            else:
                lake = None
                queries = (
                    spark.read.parquet(idx.lists_dir)
                    .filter(F.col("neighbor_id").isin(qids))
                    .select(
                        F.col("neighbor_id").alias(args.id_col),
                        F.col("cvec").alias(args.vec_col),
                    )
                )
            rows = idx.search(
                queries, k=args.k, n_probe=args.n_probe,
                refine_with=lake if is_pq else None,
            ).collect()
            print(json.dumps({
                "pq": is_pq,
                "neighbors": [
                    {"query_id": r["query_id"], "rank": r["rank"],
                     "neighbor_id": r["neighbor_id"],
                     "score": round(r["score"], 6)}
                    for r in rows
                ]
            }))
        return 0
    if args.verb == "ann":
        from cumulus_etl_spark.operators import similarity as S

        emb = spark.read.parquet(args.input_path)
        first = emb.select(args.vec_col).first()
        if first is None:
            raise SystemExit(f"ann: no rows in {args.input_path}")
        dim = len(first[0])
        qids = [int(x) for x in _csv(args.query_ids)]
        queries = emb.filter(F.col(args.id_col).isin(qids))
        kw = {"id_col": args.id_col, "vec_col": args.vec_col, "k": args.k}
        if args.method == "brute":
            out = S.knn_bruteforce(emb, queries, **kw)
        elif args.method == "lsh":
            out = S.ann_lsh(
                emb, queries, dim=dim, planes=4, tables=8,
                planes_tensor=S.rademacher_planes_md5(dim, 4, 8), **kw,
            )
        elif args.method == "ivf":
            out = S.ann_ivf(emb, queries, **kw)
        elif args.method == "negatives":
            out = S.mine_hard_negatives(
                emb, queries, dup_threshold=args.dup_threshold, **kw
            )
        elif args.method == "rrf":
            from cumulus_etl_spark.operators.quantize import int8_topk

            deep = dict(kw, k=max(args.k * 4, 20))  # fuse over deeper lists
            a = S.knn_bruteforce(emb, queries, **deep)
            b = int8_topk(emb, queries, **deep)
            out = S.rrf_fuse(a, b, k=args.k).select(
                "query_id", "rank", "neighbor_id",
                F.col("rrf_units").cast("double").alias("score"),
            )
        else:  # pq
            from cumulus_etl_spark.operators.quantize import (
                pq_adc_topk,
                pq_codebooks_trained,
            )

            # largest subspace count <= 16 that divides the dimension
            n_sub = next(n for n in (16, 8, 4, 2, 1) if dim % n == 0)
            books = pq_codebooks_trained(
                emb, n_sub=n_sub, vec_col=args.vec_col, id_col=args.id_col
            )
            out = pq_adc_topk(emb, queries, books, k=args.k,
                              vec_col=args.vec_col, id_col=args.id_col)
        by_q: dict = {}
        for r in out.orderBy("query_id", "rank").collect():
            by_q.setdefault(str(r["query_id"]), []).append({
                "rank": r["rank"], "neighbor_id": r["neighbor_id"],
                "score": float(r[3]),
            })
        print(json.dumps({"method": args.method, "k": args.k, "neighbors": by_q}))
        return 0
    if args.verb == "stats":
        from cumulus_etl_spark.sinks import ManagedTable

        report = {}
        for name in _lake_tables(args.output_dir, args.tables):
            tbl = ManagedTable(spark, args.output_dir, name)
            df = tbl.read()
            tdir = os.path.join(args.output_dir, name)
            nbytes = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(tdir)
                for f in fs
            )
            report[name] = {
                "rows": df.count() if df is not None else 0,
                "columns": len(df.schema.fields) if df is not None else 0,
                "current_version": tbl.current_version(),
                "versions": len(tbl.versions()),
                "bytes_on_disk": nbytes,
            }
        print(json.dumps({"tables": report}))
        return 0
    return 2


def _run_nlp_verb(spark, args) -> dict:
    """The nlp sub-command: resolve tasks, optional model override from
    HTTP endpoint args, optional note pre-selection, run each task."""
    import dataclasses
    from datetime import datetime, timezone

    from cumulus_etl_spark.nlp import extract_note_text
    from cumulus_etl_spark.nlp.selection import select_notes
    from cumulus_etl_spark.nlp.studies import COVID_SYMPTOM_TASK, load_study_tasks
    from cumulus_etl_spark.sources import scan_resources

    # Resolve the provider dialect FIRST so TOML tasks can be built on it
    # (each task keeps its own prompts/response format; ref models.py
    # Model.__init__ selection).
    dialect = None
    if args.provider:
        from cumulus_etl_spark.nlp.dialects import make_dialect
        from cumulus_etl_spark.nlp.http_provider import HttpClient, wait_for_service

        if not args.model_id:
            raise SystemExit("--provider requires --model (a registry config id)")
        dialect, _prices = make_dialect(
            args.provider,
            args.model_id,
            deployment=args.azure_deployment,
            bedrock_endpoint=args.bedrock_endpoint,
        )
        if args.provider == "local":
            # pre-flight: server up AND serving our model id (ref
            # post_init_check models.py:233-245)
            wait_for_service(dialect.base_url)
            dialect.post_init_check(HttpClient())

    tasks = (
        load_study_tasks(args.task_config, llm_url=args.llm_url, dialect=dialect)
        if args.task_config
        else [COVID_SYMPTOM_TASK]
    )

    model = None
    prebuilt_model_tasks: set = set()  # tasks carrying their own model
    if args.ctakes_url:
        from cumulus_etl_spark.nlp.http_provider import CtakesHttpModel, wait_for_service

        # fail fast before any Spark work if the service isn't up
        # (ref nlp/watcher.py pre-flight checks)
        wait_for_service(args.ctakes_url)
        if args.cnlp_url:
            wait_for_service(args.cnlp_url)
        model = CtakesHttpModel(
            url=args.ctakes_url,
            cnlp_url=args.cnlp_url,
            bsv_path=args.ctakes_bsv,
            overrides_dir=args.ctakes_overrides,
        )
        # Study vocabulary swap BEFORE any extraction request (ref
        # nlp/watcher.py:134-170); the post-install ping is the offline
        # analog of wait_for_ctakes_restart.
        model.install_dictionary(ready_check=lambda: wait_for_service(args.ctakes_url))
    elif args.llm_url:
        from cumulus_etl_spark.nlp.http_provider import LlmHttpModel, wait_for_service

        wait_for_service(args.llm_url)
        if not args.task_config:  # toml tasks already carry their LLM models
            model = LlmHttpModel(url=args.llm_url, model_name=args.llm_model)
    elif dialect is not None and not args.task_config:
        # toml tasks were already built ON the dialect above; the default
        # covid study gets a generic dialect model for the match task plus
        # the GPT covid-symptom variant with its own prompt/schema model
        # (ref covid_tasks.py default task set).
        from cumulus_etl_spark.nlp.dialects import (
            DialectLlmModel,
            openai_response_format,
        )
        from cumulus_etl_spark.nlp.studies import (
            COVID_GPT_SYSTEM_PROMPT,
            COVID_GPT_USER_PROMPT,
            COVID_SYMPTOMS_RESPONSE_SCHEMA,
            covid_gpt_task,
        )

        model = DialectLlmModel(dialect=dialect)
        gpt_task = covid_gpt_task(
            DialectLlmModel(
                dialect=dialect,
                system_prompt=COVID_GPT_SYSTEM_PROMPT,
                user_prompt_template=COVID_GPT_USER_PROMPT,
                response_format=openai_response_format(
                    "CovidSymptoms", COVID_SYMPTOMS_RESPONSE_SCHEMA
                ),
                unwrap=None,
            ),
            model_id=args.model_id,
        )
        tasks = tasks + [gpt_task]
        prebuilt_model_tasks.add(gpt_task.name)
    if args.tasks:
        wanted = set(args.tasks)
        tasks = [t for t in tasks if t.name in wanted]
        missing = wanted - {t.name for t in tasks}
        if missing:
            raise SystemExit(f"unknown nlp task(s): {sorted(missing)}")

    batch_provider = None
    if args.batch_url:
        from cumulus_etl_spark.nlp.http_provider import HttpBatchProvider

        batch_provider = HttpBatchProvider(args.batch_url)

    # Both note types, like the reference nlp CLI (etl/nlp/cli.py reads
    # DiagnosticReport alongside DocumentReference): extract_note_text /
    # run_nlp_task dispatch per-row on resourceType, so DiagnosticReport
    # presentedForm[] notes flow through the same tasks.
    docrefs = scan_resources(
        spark, args.input_dir, ["DiagnosticReport", "DocumentReference"]
    )
    notes = select_notes(
        spark, extract_note_text(docrefs),
        select_words=args.select_words, select_regex=args.select_regex,
        select_by_csv=args.select_by_csv,
        select_by_anon_csv=args.select_by_anon_csv, phi_dir=args.phi_dir,
    )
    docrefs = notes.drop("note_text", "note_missing_reason")

    generated_on = datetime.now(timezone.utc).isoformat()
    summary: dict = {}
    for task in tasks:
        if model is not None and task.name not in prebuilt_model_tasks:
            task = dataclasses.replace(task, name=task.name, model=model)
        summary[task.name] = task.run(
            spark, docrefs, args.output_dir, args.phi_dir, generated_on,
            batch_provider=batch_provider,
        )
    return summary


if __name__ == "__main__":
    sys.exit(main())
