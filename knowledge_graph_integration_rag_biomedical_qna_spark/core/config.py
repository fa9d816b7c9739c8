"""Engine configuration constants.

Numeric defaults are carried over from the reference pipeline so the operator
*shapes* keep the same parameters (see SURVEY.md §7.5):

- TOP_K_CANDIDATES = 10   candidates kept per mention
  (reference: rag2-retriever/README.md:16, -k 10 in all experiments)
- LINK_ACCEPT_FLOOR = 0.5 minimum accepted link score
  (reference cosine floor: similarity_pruning/context_pruning.py:13)
- DELTA_THRESHOLD = 0.25  margin filter on score deltas
  (reference: rag2-filtering/filtering_module.py:21, generate_labels.py:11)
- PERCENTILE = 0.75       per-group percentile filter
  (reference: similarity_pruning/context_pruning.py:14,40)
- ARROW_BATCH = 1024      Arrow batch size for pandas UDFs
  (reference search batch: rag2-retriever/main.py:128-131)
"""

TOP_K_CANDIDATES = 10
LINK_ACCEPT_FLOOR = 0.5
DELTA_THRESHOLD = 0.25
PERCENTILE = 0.75
ARROW_BATCH = 1024

# Max tokens in a mention n-gram (dictionary matcher tries longest-first).
MAX_MENTION_TOKENS = 3
# Max token gap between a predicate phrase and its subject/object mention.
MAX_ARG_GAP = 5

# Number of conv_id hash buckets used for checkpointed, resumable materialize.
CHECKPOINT_BUCKETS = 32

# Link score blend: dictionary candidates score = SIM_WEIGHT * string_sim +
# PRIOR_WEIGHT * prior  (reference analog: retrieve->rerank two-stage scoring).
SIM_WEIGHT = 0.7
PRIOR_WEIGHT = 0.3
