#!/usr/bin/env python
"""Training-corpus curation job (spark-submit entry point).

The curation twin of jobs/extract_features.py — the deployable form of
the `pipeline_curation_docs` driver query:

    spark-submit --py-files engine.zip jobs/curate_corpus.py \
        --input /path/to/documents.parquet --output /path/to/curated \
        --min-tokens 20 --max-rep2 0.9 --pair-source minhash \
        --split-weights train:0.9,val:0.05,test:0.05 --seed v1

Pipeline: scan -> length + repetition quality filters -> near-dup
pairs (MinHash-LSH at scale, exact n-gram Jaccard for small corpora)
-> connected-component group resolution -> canonical-keep ->
deterministic hash split -> partitioned write (partitioned by split)
that resumes from its own output manifest and carries lineage +
per-stage survivor counts as snapshot metrics.

Everything is master-agnostic; resumability and lineage come from the
same partitioned sink the feature job uses.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_weights(spec: str):
    out = []
    for part in spec.split(","):
        name, _, w = part.partition(":")
        out.append((name.strip(), float(w)))
    return out


def parse_expectations(spec: str):
    """Rule mini-language for --expectations: semicolon-separated rules,
    colon-separated fields, e.g.

        not_null:text;unique:doc_id;in_range:n_chars:0:1000000;matches:lang:^[a-z]{2}$

    (the regex is everything after the second colon, so it may itself
    contain colons — but not semicolons)."""
    from pulsarfeatureextractor_spark.functions import quality_checks as qc

    rules = []
    for raw in spec.split(";"):
        raw = raw.strip()
        if not raw:
            continue
        kind, _, rest = raw.partition(":")
        if kind == "not_null":
            rules.append(qc.expect_not_null(rest))
        elif kind == "unique":
            rules.append(qc.expect_unique(rest))
        elif kind == "unique_approx":
            rules.append(qc.expect_unique(rest, exact=False))
        elif kind == "in_range":
            col, lo, hi = rest.rsplit(":", 2)
            rules.append(qc.expect_in_range(col, float(lo), float(hi)))
        elif kind == "matches":
            col, _, regex = rest.partition(":")
            rules.append(qc.expect_matches(col, regex))
        elif kind == "in_set":
            col, _, vals = rest.partition(":")
            rules.append(qc.expect_in_set(col, vals.split(",")))
        else:
            raise ValueError(f"unknown expectation kind: {kind!r}")
    return rules


def build_pipeline(spark, args):
    from pyspark.sql import functions as F

    from pulsarfeatureextractor_spark.functions.splits import hash_split
    from pulsarfeatureextractor_spark.functions.text import (
        with_repetition_metrics,
        words_col,
    )
    from pulsarfeatureextractor_spark.operators.components import dedup_groups
    from pulsarfeatureextractor_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(args.input)

    contract = None
    if args.expectations:
        # ingest contract gate: ONE aggregate pass over the raw scan
        # (functions/quality_checks.py) BEFORE any curation spend
        from pulsarfeatureextractor_spark.functions.quality_checks import (
            validate_expectations,
        )

        contract = validate_expectations(docs, parse_expectations(args.expectations))
        if not contract["passed"] and args.expectations_action == "fail":
            raise RuntimeError(
                "input violates data contract: "
                + ", ".join(contract["failures"])
                + f" (metrics: {contract['metrics']})"
            )

    n_in = docs.count()

    n_ingested_dropped = 0
    if args.dedup_against is not None:
        # incremental-crawl posture: drop docs whose RAW text already
        # exists verbatim in the ingested corpus BEFORE any curation
        # spend or text rewrite (digests must match the reference's
        # raw text).  The reference is a parquet of digests (a
        # `digest` column) or raw text (--dedup-against-text-col);
        # at 100 TB point this at a prepare_digest_reference bucketed
        # table instead so only the crawl side shuffles.
        from pulsarfeatureextractor_spark.operators.dedup import (
            dedup_against,
        )

        ref = spark.read.parquet(args.dedup_against)
        docs = dedup_against(
            docs, ref, args.text_col,
            ref_col=args.dedup_against_text_col,
        ).localCheckpoint(eager=True)
        n_after = docs.count()
        n_ingested_dropped = n_in - n_after

    if args.fuzzy_dedup_ref is not None:
        # NEAR-duplicate companion of --dedup-against (operators/dedup.
        # minhash_dedup_against): probe the prebuilt bucketed MinHash
        # index; only the crawl side shuffles.  Banding comes from the
        # index's own TBLPROPERTIES so any valid index works; a table
        # without them is refused by the operator.
        from pulsarfeatureextractor_spark.operators.dedup import (
            minhash_dedup_against,
        )

        props = {
            r["key"]: r["value"]
            for r in spark.sql(
                f"SHOW TBLPROPERTIES {args.fuzzy_dedup_ref}"
            ).collect()
        }
        n_before = docs.count() if n_ingested_dropped else n_in
        docs = minhash_dedup_against(
            docs, args.fuzzy_dedup_ref,
            text_col=args.text_col, id_col=args.id_col,
            num_perm=int(props.get("mh.num_perm", 64)),
            bands=int(props.get("mh.bands", 16)),
            shingle_n=int(props.get("mh.shingle_n", 3)),
            threshold=args.fuzzy_dedup_threshold,
        ).localCheckpoint(eager=True)
        n_fuzzy_dropped = n_before - docs.count()
    else:
        n_fuzzy_dropped = 0

    if args.boilerplate_ratio is not None:
        # corpus-level cleaning BEFORE any filtering: drop tokens
        # present in >= num/den of all documents (C4-style,
        # functions/text.py); the cleaned text replaces text_col so
        # every downstream stage (quality, dedup shingles, splits)
        # sees boilerplate-free documents
        from pulsarfeatureextractor_spark.functions.text import (
            remove_boilerplate,
        )

        num, den = (int(x) for x in args.boilerplate_ratio.split(":"))
        docs = (
            remove_boilerplate(docs, args.text_col, ratio=(num, den))
            .drop(args.text_col, "n_kept")
            .withColumnRenamed("clean_text", args.text_col)
        )

    if args.line_dedup_min_count is not None:
        # corpus-level line rewrite (RefinedWeb exact line dedup,
        # operators/dedup.line_dedup): like --boilerplate-ratio it
        # runs BEFORE any filtering and replaces text_col, so every
        # downstream stage sees line-deduped documents; docs emptied
        # by the rewrite fall to the min-tokens cut (dropped_quality).
        # The id join is one keyed exchange — at 100 TB prefer
        # bucketing the corpus by id so it co-locates.
        from pulsarfeatureextractor_spark.operators.dedup import line_dedup

        cleaned = line_dedup(
            docs, args.text_col, id_col=args.id_col,
            min_count=args.line_dedup_min_count,
        ).select(args.id_col, "clean_text")
        docs = (
            docs.drop(args.text_col)
            .join(cleaned, args.id_col)
            .withColumnRenamed("clean_text", args.text_col)
        )

    filt = docs.where(F.size(words_col(args.text_col)) >= args.min_tokens)
    if args.max_rep2 < 1.0:
        filt = with_repetition_metrics(
            filt, args.text_col, id_col=args.id_col
        ).where(F.col("rep_2") <= args.max_rep2).drop("rep_1", "rep_2", "rep_3")
    if args.gopher:
        # Gopher rule filter (functions/text.gopher_rules, Rae et al.
        # 2021): scan-fused, zero shuffles — it rides the same scan as
        # the min-tokens cut, so its drops land in dropped_quality
        from pulsarfeatureextractor_spark.functions.text import gopher_rules

        _g_cols = ["n_words", "mean_word_len_g", "alpha_frac",
                   "symbol_ratio", "stop_hits", "gopher_keep"]
        filt = (
            gopher_rules(
                filt, args.text_col,
                min_stop_hits=args.gopher_min_stop_hits,
            )
            .where(F.col("gopher_keep"))
            .drop(*_g_cols)
        )
    if args.blocklist:
        # C4-style blocklist gate (functions/text.blocklist_filter):
        # scan-fused like the Gopher rules, so its drops land in
        # dropped_quality with the rest of the scan-time cuts
        from pulsarfeatureextractor_spark.functions.text import (
            blocklist_filter,
        )

        words = [w for w in args.blocklist.split(",") if w]
        filt = (
            blocklist_filter(
                filt, words, args.text_col,
                max_distinct_hits=args.blocklist_max_hits,
            )
            .where(F.col("blocklist_keep"))
            .drop("n_blocked_distinct", "n_blocked_tokens",
                  "blocklist_keep")
        )
    # Each expensive stage (quality chain, model UDF, LM train+score)
    # materializes exactly ONCE via localCheckpoint before its lineage
    # count: counting the lazy chain would re-execute the model
    # inference / LM aggregates once per count (up to 4 redundant runs
    # of the two costliest stages at 100 TB) — the counters must read
    # the checkpoint, never re-drive the stage.
    filt = filt.localCheckpoint(eager=True)
    n_stage = filt.count()
    n_nb_dropped = 0
    if args.nb_keep_lang is not None:
        # learned-langid gate (functions/nb.py): train multinomial NB
        # on the corpus's own label column (one (label, token) count
        # shuffle; bounded model grid), reclassify, keep docs the
        # LEARNED model predicts as the target language — the CCNet
        # posture where the noisy self-labels train the filter that
        # then overrides them.  LEFT SEMI keeps the corpus side from
        # ever widening.
        from pulsarfeatureextractor_spark.functions.nb import (
            classify_nb,
            train_nb,
        )

        if args.nb_lang_col not in filt.columns:
            raise SystemExit(
                f"--nb-keep-lang needs column {args.nb_lang_col!r}"
            )
        model = train_nb(filt, args.text_col, args.nb_lang_col)
        pred = classify_nb(
            filt.select(args.id_col, args.text_col), model,
            args.text_col, args.id_col,
        )
        filt = filt.join(
            pred.where(F.col("nb_pred") == args.nb_keep_lang).select(
                args.id_col
            ),
            [args.id_col],
            "left_semi",
        ).localCheckpoint(eager=True)
        n_after = filt.count()
        n_nb_dropped = n_stage - n_after
        n_stage = n_after
    n_model_dropped = 0
    model_gate_on = (
        args.model_threshold is not None or args.model_percentile is not None
    )
    if model_gate_on:
        # learned-quality gate: batch model inference (Arrow-batched,
        # functions/inference.py).  The deterministic linear fixture
        # stands in for a real classifier here; a deployment passes its
        # own callable through score_with_model directly.
        from pulsarfeatureextractor_spark.functions.inference import (
            QUALITY_FEATURES,
            quality_model,
            score_with_model,
        )
        from pulsarfeatureextractor_spark.functions.text import (
            with_quality_metrics,
        )

        feats = with_quality_metrics(filt, args.text_col)
        if args.train_quality_source is not None:
            # train the gate IN-ENGINE (functions/regression.py): a
            # one-pass linear probability model of (source == SRC) on
            # the quality features — one extra scan + a 4x4 driver
            # solve at any corpus size — then score it as pure JVM
            # column arithmetic (no UDF).  Docs resembling the trusted
            # source score near 1, so the gate (--model-threshold or
            # --model-percentile) cuts on learned similarity-to-SRC
            # instead of fixed weights.
            if args.train_quality_source_col not in feats.columns:
                raise SystemExit(
                    f"--train-quality-source needs column "
                    f"{args.train_quality_source_col!r} in the input"
                )
            from pulsarfeatureextractor_spark.functions.regression import (
                fit_lpm,
                with_linear_score,
            )

            fit = fit_lpm(
                feats,
                QUALITY_FEATURES,
                F.col(args.train_quality_source_col)
                == args.train_quality_source,
                l2=args.train_l2,
            )
            # stderr: stdout is reserved for the job's JSON result line
            print(f"trained LPM quality gate: {fit}", file=sys.stderr)
            scored = with_linear_score(
                feats, fit["weights"], fit["bias"], QUALITY_FEATURES
            )
        else:
            scored = score_with_model(feats, QUALITY_FEATURES, quality_model())
        if args.model_percentile is not None:
            # "keep the top P fraction" gate — the first-class operator
            # (functions/inference.keep_top_fraction): one distributed
            # Greenwald-Khanna quantile pass over scores pinned with an
            # eager localCheckpoint so the cutoff and the filter read
            # the SAME materialized scores (exactly-once inference);
            # empty/all-null stages keep nothing instead of crashing.
            from pulsarfeatureextractor_spark.functions.inference import (
                keep_top_fraction,
            )

            if args.model_percentile_by is not None:
                # EXACT per-group variant (keep_top_fraction_by): the
                # rank window costs the same one exchange the sketch
                # pass would, boundary ties all kept, and low-resource
                # groups are never starved by a global cutoff
                from pulsarfeatureextractor_spark.functions.inference import (
                    keep_top_fraction_by,
                )

                if args.model_percentile_by not in scored.columns:
                    raise SystemExit(
                        f"--model-percentile-by needs column "
                        f"{args.model_percentile_by!r}"
                    )
                print(
                    f"model gate: keep-top {args.model_percentile:.4f} "
                    f"per {args.model_percentile_by}",
                    file=sys.stderr,
                )
                kept = keep_top_fraction_by(
                    scored, "model_score", args.model_percentile_by,
                    args.model_percentile,
                ).where(F.col("keep_frac")).drop(
                    "grp_n", "grp_rank", "keep_frac"
                )
            else:
                print(
                    f"model gate: keep-top {args.model_percentile:.4f}",
                    file=sys.stderr,
                )
                kept = keep_top_fraction(
                    scored, "model_score", args.model_percentile
                )
        else:
            kept = scored.where(F.col("model_score") >= args.model_threshold)
        filt = kept.drop(
            "model_score", *QUALITY_FEATURES, "n_chars_text",
            "distinct_tokens").localCheckpoint(eager=True)
        n_after = filt.count()
        n_model_dropped = n_stage - n_after
        n_stage = n_after
    n_ppl_dropped = 0
    if args.max_ppl is not None:
        # CCNet-style LM gate (functions/lm.py): self-trained bigram
        # perplexity; high-perplexity (out-of-domain / noisy) docs drop.
        # Docs the LM CANNOT score (NULL lm_ppl — fewer than 2 non-empty
        # tokens, e.g. whitespace padding survived --min-tokens) pass
        # through: unjudgeable is not the same as out-of-domain, and a
        # NULL <= x predicate would silently drop them.
        from pulsarfeatureextractor_spark.functions.lm import (
            with_lm_perplexity,
        )

        filt = (
            with_lm_perplexity(filt, args.text_col, args.id_col)
            .where(
                (F.col("lm_ppl") <= args.max_ppl) | F.col("lm_ppl").isNull()
            )
            .drop("n_bigrams", "lm_ppl")
            .localCheckpoint(eager=True)
        )
        n_after = filt.count()
        n_ppl_dropped = n_stage - n_after
        n_stage = n_after
    n_span_dropped = 0
    if args.max_dup_fraction is not None:
        # repeated-span gate (operators/spans.py, Lee et al. 2021
        # predicate): drop docs whose duplicated-3-gram token coverage
        # exceeds the cut — heavy verbatim repeaters leave BEFORE the
        # pair graph (they are exactly the docs that blow up near-dup
        # candidate generation)
        from pulsarfeatureextractor_spark.operators.spans import (
            repeated_ngram_coverage,
        )

        cov = repeated_ngram_coverage(
            filt.select(args.id_col, args.text_col),
            args.text_col, args.id_col,
        ).where(F.col("dup_fraction") <= args.max_dup_fraction).select(
            args.id_col
        )
        filt = filt.join(cov, [args.id_col], "left_semi").localCheckpoint(
            eager=True
        )
        n_after = filt.count()
        n_span_dropped = n_stage - n_after
        n_stage = n_after
    # filt is checkpointed on every path above: the pair graph and the
    # split both consume it (iterative CC would otherwise recompute the
    # filter chain every round)
    n_filtered = n_stage

    if args.pair_source == "minhash":
        pairs = minhash_lsh_pairs(
            filt, args.text_col, args.id_col, threshold=args.dup_threshold
        )
    else:
        pairs = ngram_jaccard_pairs(
            filt, args.text_col, args.id_col, threshold=args.dup_threshold
        )
    groups = dedup_groups(filt, pairs, args.id_col)
    kept = filt.join(
        groups.where(F.col("group_id") == F.col(args.id_col)).select(
            args.id_col, "group_size"
        ),
        args.id_col,
    )
    n_dsir_dropped = 0
    n_dedup_canonical = None
    if args.dsir_target_lang is not None:
        # DSIR data-selection stage (functions/dsir.py, Xie et al.
        # 2023): score every canonical doc's hashed-n-gram likelihood
        # ratio under target-language vs whole-corpus multinomials,
        # keep the Gumbel top --dsir-frac per source stratum.  Runs on
        # the DEDUPED canonical set (scoring dup copies would waste the
        # corpus-scale pass) with the production xxhash tier.
        from pulsarfeatureextractor_spark.functions.dsir import (
            dsir_log_ratios,
            dsir_select,
            with_dsir_logweight,
        )

        if args.dsir_lang_col not in kept.columns:
            raise SystemExit(
                f"--dsir-target-lang needs column {args.dsir_lang_col!r}"
            )
        if args.mix_source_col not in kept.columns:
            # dsir_select stratifies on the source column; failing here
            # beats a raw AnalysisException after the expensive
            # filter/dedup chain already ran
            raise SystemExit(
                f"--dsir-target-lang needs stratum column "
                f"{args.mix_source_col!r} (set --mix-source-col)"
            )
        kept = kept.localCheckpoint(eager=True)
        n_before = kept.count()
        if (
            kept.where(
                F.col(args.dsir_lang_col) == args.dsir_target_lang
            ).limit(1).count() == 0
        ):
            # an empty target corpus trains an all-NULL log-ratio model
            # and dsir_select would silently degrade to keep-lowest-id
            # truncation — refuse instead (typo'd language, or every
            # target doc already filtered out upstream)
            raise SystemExit(
                f"--dsir-target-lang {args.dsir_target_lang!r}: no "
                f"surviving docs have that {args.dsir_lang_col!r} — "
                f"the DSIR target corpus is empty"
            )
        lr = dsir_log_ratios(
            kept.where(F.col(args.dsir_lang_col) == args.dsir_target_lang),
            kept, args.text_col, args.id_col, hasher=args.dsir_hasher,
        )
        w = with_dsir_logweight(
            kept, lr, args.text_col, args.id_col, hasher=args.dsir_hasher
        )
        kept = dsir_select(
            w, "dsir_logw", args.mix_source_col, args.id_col,
            frac=args.dsir_frac,
        ).drop("n_grams", "dsir_logw", "sel_key").localCheckpoint(eager=True)
        n_dsir_dropped = n_before - kept.count()
        # n_before is the post-dedup, pre-DSIR count — the true
        # dedup-canonical figure for the ledger (review finding: with
        # DSIR and no mixing, docs_canonical otherwise fell back to
        # the post-DSIR n_kept, under-reporting by n_dsir_dropped)
        n_dedup_canonical = n_before
    mix = None
    n_canonical = None
    if args.mix_weights or args.mix_temperature is not None:
        # recipe stage (operators/mixing.py): re-weight the canonical
        # set to the token budget BEFORE splitting — copies of a doc
        # share its id, so the hash split keeps all epochs of a doc in
        # one split (no eval leakage through up-sampling)
        from pulsarfeatureextractor_spark.operators.mixing import (
            mix_corpora,
            source_token_counts,
            temperature_weights,
        )

        if args.mix_budget is None:
            raise ValueError(
                "--mix-weights / --mix-temperature require --mix-budget"
            )
        if args.mix_weights and args.mix_temperature is not None:
            raise ValueError(
                "--mix-weights and --mix-temperature are exclusive: one "
                "recipe may name its weights or derive them, not both"
            )
        # the canonical count must be taken BEFORE re-sampling — the
        # mixed output legitimately repeats and drops rows
        kept = kept.localCheckpoint(eager=True)
        n_canonical = kept.count()
        cost_col = args.mix_cost_col
        if cost_col is None:
            kept = kept.withColumn(
                "__mix_cost", F.length(F.col(args.text_col)).cast("long")
            )
            cost_col = "__mix_cost"
        if args.mix_temperature is not None:
            # mT5/XLM-R-style alpha-sampling: derive the recipe from the
            # corpus's OWN available-token distribution (one extra
            # K-source aggregate)
            weights = temperature_weights(
                source_token_counts(kept, args.mix_source_col, cost_col),
                alpha=args.mix_temperature,
            )
        else:
            weights = dict(parse_weights(args.mix_weights))
        avail = {
            r[0]: r[1]
            for r in kept.where(F.col(args.mix_source_col).isin(list(weights)))
            .groupBy(args.mix_source_col).agg(F.sum(cost_col)).collect()
        }
        # the mix stage's acceptance hash is namespaced AWAY from the
        # split's seed: with --hasher md5 both stages would otherwise
        # share the exact md5 bucket, confining every down-sampled
        # survivor to the low buckets — and hash_split assigns val/test
        # from the HIGH buckets, so those splits would silently receive
        # zero docs from any down-sampled source
        kept = mix_corpora(
            kept, weights, args.mix_budget,
            source_col=args.mix_source_col, token_col=cost_col,
            id_col=args.id_col, seed=args.seed + "|mix",
            max_rate=args.mix_max_rate,
        )
        achieved = {
            r[0]: r[1]
            for r in kept.groupBy(args.mix_source_col)
            .agg(F.sum(cost_col)).collect()
        }
        if cost_col == "__mix_cost":
            kept = kept.drop("__mix_cost")
        wsum = sum(weights.values())
        mix = {
            "weights": weights,
            "temperature": args.mix_temperature,
            "budget_tokens": args.mix_budget,
            "max_rate": args.mix_max_rate,
            "available_tokens": avail,
            "target_tokens": {
                s: args.mix_budget * w / wsum for s, w in weights.items()
            },
            "achieved_tokens": achieved,
        }
    # materialize the final frame: n_kept below, the sink's partition-key
    # collect, and the write would otherwise each recompute the dedup
    # join + split chain
    out = hash_split(
        kept,
        args.id_col,
        weights=parse_weights(args.split_weights),
        seed=args.seed,
        hasher=args.hasher,
    ).localCheckpoint(eager=True)
    n_kept = out.count()
    lineage = {
        "input": args.input,
        "pair_source": args.pair_source,
        "seed": args.seed,
        "contract": contract,
        "mix": mix,
        "metrics": {
            "docs_in": n_in,
            "docs_after_quality": n_filtered,
            "docs_canonical": (
                n_dedup_canonical
                if n_dedup_canonical is not None
                else (n_canonical if n_canonical is not None else n_kept)
            ),
            "rows_out": n_kept,
            "dropped_ingested": n_ingested_dropped,
            "dropped_ingested_fuzzy": n_fuzzy_dropped,
            "dropped_quality": n_in - n_ingested_dropped
            - n_fuzzy_dropped - n_filtered - n_nb_dropped
            - n_model_dropped - n_ppl_dropped - n_span_dropped,
            "dropped_langid": n_nb_dropped,
            "dropped_model": n_model_dropped,
            "dropped_perplexity": n_ppl_dropped,
            "dropped_repeated_spans": n_span_dropped,
            "dropped_dsir": n_dsir_dropped,
            "dropped_dup": n_filtered - n_dsir_dropped
            - (n_canonical if n_canonical is not None else n_kept),
        },
    }
    return out, lineage


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--max-rep2", type=float, default=1.0,
                    help="drop docs whose top-bigram count mass exceeds this")
    ap.add_argument("--model-threshold", type=float, default=None,
                    help="keep docs whose quality-model logit is >= this "
                         "(batch inference stage; deterministic linear "
                         "fixture — see functions/inference.py)")
    ap.add_argument("--model-percentile", type=float, default=None,
                    help="keep the top P fraction (0<P<1) by model score; "
                         "the cutoff is the (1-P) approx-quantile — "
                         "exclusive with --model-threshold")
    ap.add_argument("--train-quality-source", default=None,
                    help="train the model gate in-engine (pair with "
                         "--model-threshold or --model-percentile): "
                         "one-pass LPM of (source == SRC) on the quality "
                         "features replaces the injected model")
    ap.add_argument("--train-quality-source-col", default="source")
    ap.add_argument("--model-percentile-by", default=None,
                    help="group column for --model-percentile: keep the "
                         "top P fraction PER GROUP (exact rank gate, "
                         "inference.keep_top_fraction_by — the FineWeb-"
                         "Edu keep-top-X%%-per-language posture) instead "
                         "of one global sketch cutoff")
    ap.add_argument("--nb-keep-lang", default=None,
                    help="learned-langid gate (functions/nb.py): train a "
                         "multinomial Naive Bayes on the corpus's own "
                         "--nb-lang-col labels, reclassify every doc, "
                         "keep only docs PREDICTED as this language "
                         "(CCNet/fastText langid posture, fully "
                         "in-engine)")
    ap.add_argument("--nb-lang-col", default="lang")
    ap.add_argument("--train-l2", type=float, default=1e-6,
                    help="ridge strength for --train-quality-source")
    ap.add_argument("--boilerplate-ratio", default=None,
                    help="drop tokens present in >= NUM:DEN of all docs "
                         "before filtering (C4-style corpus boilerplate "
                         "removal; functions/text.py), e.g. 79:100")
    ap.add_argument("--max-ppl", type=float, default=None,
                    help="drop docs whose self-trained bigram-LM "
                         "perplexity exceeds this (CCNet-style gate; "
                         "functions/lm.py)")
    ap.add_argument("--expectations", default=None,
                    help="semicolon-separated data-contract rules checked "
                         "in ONE pass before curation, e.g. "
                         "'not_null:text;unique:doc_id;in_range:n_chars:0:1e6' "
                         "(see parse_expectations)")
    ap.add_argument("--expectations-action", default="fail",
                    choices=["fail", "warn"],
                    help="fail: abort on contract violation; warn: record "
                         "the violation in lineage and continue")
    ap.add_argument("--mix-weights", default=None,
                    help="optional recipe stage after dedup: per-source "
                         "mixture weights, e.g. 'web:0.67,code:0.15' "
                         "(sources absent from the recipe are dropped; "
                         "see operators/mixing.py)")
    ap.add_argument("--mix-temperature", type=float, default=None,
                    help="derive mixture weights from the corpus's own "
                         "token distribution: w_s ~ p_s**alpha (mT5/XLM-R "
                         "alpha-sampling; exclusive with --mix-weights)")
    ap.add_argument("--mix-budget", type=float, default=None,
                    help="total token budget the mixture targets "
                         "(required with --mix-weights)")
    ap.add_argument("--mix-max-rate", type=float, default=None,
                    help="epoch cap: clamp any source's up-sampling rate")
    ap.add_argument("--mix-source-col", default="source")
    ap.add_argument("--mix-cost-col", default=None,
                    help="numeric per-doc cost column for the budget; "
                         "default stages length(text-col)")
    ap.add_argument("--gopher", action="store_true",
                    help="apply the Gopher quality rules (Rae et al. "
                         "2021, functions/text.gopher_rules) as a "
                         "scan-fused filter before dedup")
    ap.add_argument("--gopher-min-stop-hits", type=int, default=2,
                    help="distinct Gopher stopwords required (paper "
                         "default 2; lower for corpora whose "
                         "vocabulary misses the English list)")
    ap.add_argument("--dedup-against", default=None,
                    help="parquet path of the already-ingested corpus's "
                         "digest set (a 'digest' column, e.g. exact_dedup "
                         "output) — crawl docs whose raw text digest "
                         "already exists there are dropped FIRST "
                         "(incremental-crawl cross-corpus dedup; counted "
                         "as dropped_ingested)")
    ap.add_argument("--dedup-against-text-col", default=None,
                    help="treat --dedup-against as raw text and digest "
                         "this column of it instead")
    ap.add_argument("--fuzzy-dedup-ref", default=None,
                    help="metastore table name of a "
                         "prepare_minhash_reference index — crawl docs "
                         "with a NEAR-duplicate in the ingested corpus "
                         "(est Jaccard >= --fuzzy-dedup-threshold) are "
                         "dropped right after the exact --dedup-against "
                         "pass (dropped_ingested_fuzzy counter); banding "
                         "params are read from the index's TBLPROPERTIES")
    ap.add_argument("--fuzzy-dedup-threshold", type=float, default=0.7)
    ap.add_argument("--line-dedup-min-count", type=int, default=None,
                    help="RefinedWeb exact line-level dedup: rewrite "
                         "each document removing every occurrence of "
                         "any non-blank line appearing >= N times "
                         "corpus-wide (operators/dedup.line_dedup); "
                         "runs before all filters")
    ap.add_argument("--blocklist", default=None,
                    help="comma-separated C4-style bad-word list; "
                         "docs with more than --blocklist-max-hits "
                         "distinct listed words are dropped "
                         "(functions/text.blocklist_filter)")
    ap.add_argument("--blocklist-max-hits", type=int, default=0,
                    help="max DISTINCT blocklisted words a kept doc "
                         "may contain (default 0: any hit drops)")
    ap.add_argument("--max-dup-fraction", type=float, default=None,
                    help="drop docs whose duplicated-3-gram token "
                         "coverage exceeds this fraction (repeated-"
                         "span gate, operators/spans.py)")
    ap.add_argument("--dsir-target-lang", default=None,
                    help="DSIR data selection: target corpus = docs "
                         "with this value in --dsir-lang-col; keeps "
                         "the Gumbel top --dsir-frac per source "
                         "stratum after dedup (functions/dsir.py)")
    ap.add_argument("--dsir-frac", type=float, default=0.5)
    ap.add_argument("--dsir-lang-col", default="lang")
    ap.add_argument("--dsir-hasher", default="xxhash",
                    choices=["xxhash", "md5"])
    ap.add_argument("--pair-source", default="minhash",
                    choices=["minhash", "ngram"],
                    help="near-dup candidate source (minhash = scale path)")
    ap.add_argument("--dup-threshold", type=float, default=0.7)
    ap.add_argument("--split-weights", default="train:0.9,val:0.05,test:0.05")
    ap.add_argument("--hasher", default="xxhash", choices=["xxhash", "md5"])
    ap.add_argument("--seed", default="v1")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if args.model_threshold is not None and args.model_percentile is not None:
        ap.error("--model-threshold and --model-percentile are exclusive: "
                 "one gate, one cutoff rule")
    if args.model_percentile is not None and not (
        0.0 < args.model_percentile < 1.0
    ):
        ap.error("--model-percentile must be in (0, 1)")
    if args.model_percentile_by is not None and args.model_percentile is None:
        ap.error("--model-percentile-by requires --model-percentile "
                 "(it only changes the percentile gate's grouping)")
    if (args.train_quality_source is not None
            and args.model_threshold is None
            and args.model_percentile is None):
        # the training branch lives inside the model gate; without this
        # refusal the flag would be SILENTLY ignored and the user would
        # believe the corpus was model-gated
        ap.error("--train-quality-source requires --model-threshold or "
                 "--model-percentile (the trained model is the gate's "
                 "scorer)")

    from pyspark.sql import SparkSession

    from pulsarfeatureextractor_spark.session import get_spark
    from pulsarfeatureextractor_spark.sinks.partitioned import run_partitioned_job

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="curate_corpus", master=args.master)
    try:
        df, lineage = build_pipeline(spark, args)
        result = run_partitioned_job(
            df,
            args.output,
            ["split"],
            lineage=lineage,
        )
        print(json.dumps({
            "status": "ok",
            "metrics": lineage["metrics"],
            **{k: len(v) for k, v in result.items()},
        }))
        return result
    finally:
        if not preexisting:
            spark.stop()


if __name__ == "__main__":
    main()
