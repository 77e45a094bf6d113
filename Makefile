# Process gates (VERDICT r2: run before every snapshot/commit).
# smoke: seconds — catalog builds (50-gate window + documented overflow),
#        oracles PREPARE, entry() runs
# check: the full driver-gate simulation (every query vs DuckDB at sf0.01)
# bench: the BENCH contract at $SPARK_GRAFT_SF_DIR (default sf0.1) — run on
#        an idle machine; concurrent Spark work inflates timings ~2.7x

.PHONY: smoke check bench test exact scale bpe-vocab stores knn text

# opt-in scale probe (not a driver contract): 500k synthetic vectors +
# 200k synthetic docs; run on an idle machine
scale:
	python bench_scale.py 500000 64 200000

# opt-in BPE realistic-vocabulary probe (r7): zipfian corpus with
# >=500k distinct words; per-merge cost + apply throughput (BASELINE.md)
bpe-vocab:
	python bench_bpe_vocab.py 250000 10

smoke:
	python -m pytest tests/test_smoke.py -q

# the store commit-protocol modules (sources/tombstones.GenerationalStore
# and the five stores on it): a fast gate for protocol changes
stores:
	python -m pytest -q tests/test_crash_replay.py tests/test_store_contracts.py \
		tests/test_store.py tests/test_ivf_store.py tests/test_sig_store.py \
		tests/test_text_index.py tests/test_tokenizer_store.py \
		tests/test_snapshot.py tests/test_streaming.py

# the search-core modules (operators/knn.py's collect/scan/merge, the
# compressed legs' rerank and the stores' search legs): a fast gate for
# search-path changes
knn:
	python -m pytest -q tests/test_knn.py tests/test_batch_topk_properties.py \
		tests/test_filtered_knn_properties.py tests/test_ivf_store.py \
		tests/test_sq.py tests/test_pq.py tests/test_bq.py \
		tests/test_engine_parity.py tests/test_search.py tests/test_kmeans.py

# the text gates and the modules behind them (catalog templates,
# operators/langid, dsir, substring_dedup, bq): a fast gate for
# catalog-template and text-operator changes, then the bit-level oracle
# compare of the five text gates and knn_hamming
text:
	python -m pytest -q tests/test_langid.py tests/test_dsir.py \
		tests/test_substring_dedup.py tests/test_bq.py tests/test_plans.py \
		tests/test_catalog.py
	python -m tests.exact_compare doc_langid curation_pipeline_langid \
		doc_tfidf_top3 doc_dsir_weights doc_substring_dedup knn_hamming

# bit-level oracle comparison of every gated query (the strictest form
# of the driver's sha256-of-CSV hash check); also runs inside `check`
# via tests/test_catalog.py
exact:
	python -m tests.exact_compare

check:
	python -m pytest tests/ -q

test: check

# Idle-run discipline (VERDICT r7 #8): the headline is min-of-5 with
# p25/median emitted alongside; run with NOTHING else on the box —
# concurrent Spark work (the suite, a probe) inflates medians 1.3-2.7x
# while minima move less, which reads as a phantom regression.
bench:
	python bench.py
