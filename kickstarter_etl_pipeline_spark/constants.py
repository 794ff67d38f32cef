"""Engine-neutral shared constants (ZERO imports, by design).

Both the Spark operators and their DuckDB twins consume these — a
single definition site means the two engines can never drift — and
keeping this module import-free lets any module import it (twin_sql
and every query module do) without an import cycle.

It also holds every algorithm constant a Spark operator and its DuckDB
twin must agree on (round counts, k, pivots, caps, grid scale), so a
drifted value cannot be written on one side only.
"""

#: Tiny per-language stopword marker lists for the n-gram/stopword
#: language heuristic (operators/text.py) and, via their union, the
#: RAKE phrase delimiters. Real corpora would use larger lists; the
#: operator shape is what matters.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "los", "de", "que", "es"],
    "fr": ["le", "la", "les", "et", "est", "une"],
}

#: RAKE delimiter set: the union of the marker lists — deliberately
#: shared with the lang-ID heuristic so the two features agree on what
#: a "function word" is.
RAKE_STOPWORDS: tuple[str, ...] = tuple(
    sorted({w for words in LANG_MARKERS.values() for w in words})
)

#: Benford first-digit probabilities log10(1 + 1/d), d = 1..9 — Python
#: float literals shared VERBATIM between the Spark expression tree and
#: the SQL twin (the repo's float-literal contract rule: constants are
#: part of the interface).
BENFORD_P: tuple[float, ...] = (
    0.3010299956639812,
    0.17609125905568124,
    0.12493873660829992,
    0.09691001300805642,
    0.07918124604762482,
    0.06694678963061322,
    0.05799194697768673,
    0.05115252244738129,
    0.04575749056067514,
)


#: Fellegi-Sunter record-linkage pattern scores (round 10). Four
#: comparison fields over blocked part-name pairs, in bit order:
#: [name-edit-distance ≤ 2, brand equal, type equal, |size diff| ≤ 1].
#: Per-field (m, u) probabilities — m = P(agree | match), u =
#: P(agree | non-match) — are the engineering estimates
#: [(0.9, 0.05), (0.95, 0.04), (0.9, 0.013), (0.85, 0.06)]; the score
#: of a pattern is Σ log2(m/u) over agreeing fields plus
#: Σ log2((1−m)/(1−u)) over disagreeing ones, PRECOMPUTED here to 6 dp
#: so both engines consume identical literals and no cross-engine
#: transcendental is ever evaluated (the Benford/bootstrap literal
#: device). Decision thresholds: score ≥ 4 → MATCH, ≥ 0 → POSSIBLE,
#: else NON_MATCH.
FS_PATTERN_SCORES: dict[str, float] = {
    "0000": -13.46171,
    "0001": -6.989584,
    "0010": -4.045319,
    "0011": 2.426808,
    "0100": -4.62882,
    "0101": 1.843306,
    "0110": 4.787571,
    "0111": 11.259698,
    "1000": -6.043858,
    "1001": 0.428269,
    "1010": 3.372534,
    "1011": 9.844661,
    "1100": 2.789032,
    "1101": 9.261159,
    "1110": 12.205424,
    "1111": 18.677551,
}


# ---- Algorithm constants shared by a Spark operator and its DuckDB twin.

#: Co-occurrence graph: max members per (bucket, sub-bucket) join key,
#: and the shared-neighbor degree bound of the wedge joins.
OCCUPANCY_CAP = 64
WEDGE_DEGREE_CAP = 256

#: PageRank continuation probability (global and personalized), and the
#: personalized walk's restart mass: a literal, not a derived 1 - DAMPING
#: (0.15000000000000002 in binary floating point).
DAMPING = 0.85
PPR_RESTART = 0.15
#: Unrolled round counts of the graph loops and their twins.
PAGERANK_ITERATIONS = 10
PPR_ITERATIONS = 8
LPA_ITERATIONS = 5
HITS_ITERATIONS = 4
KCORE_K = 4
KCORE_ROUNDS = 6
KTRUSS_K = 4
KTRUSS_ROUNDS = 4
BFS_ROUNDS = 8
BELLMAN_FORD_ROUNDS = 6
ROTOR_STEPS = 4
SPECTRAL_ROUNDS = 8
#: The md5-chosen pivots and BFS depth of harmonic centrality,
#: betweenness and the distance distribution.
GRAPH_PIVOTS = 8
GRAPH_PIVOT_ROUNDS = 6

#: Greedy max-coverage picks.
MAX_COVERAGE_K = 8
#: BPE merge rounds and Bradley–Terry fit rounds.
BPE_ROUNDS = 8
BT_ROUNDS = 8
#: Quality perceptron: fixed epoch count, and the calibrated keep
#: fraction in per-mille (the manifest keeps the top 600‰ by score, a
#: keep RATE rather than raw sign, so the selection stays
#: non-degenerate whatever the score distribution does).
PERCEPTRON_EPOCHS = 8
KEEP_PER_MILLE = 600

#: Embedding width, and the integer grid vectors snap to (1e-6) for
#: the exact PCA and Lloyd recurrences.
EMBED_DIM = 64
GRID_SCALE = 1_000_000
PCA_ITERS = 8
#: ANN top-k depth; LSH tables × planes; IVF cells, probes and rounds.
ANN_K = 5
LSH_NUM_PLANES = 3
LSH_NUM_TABLES = 6
#: LSH probes per table: the home bucket plus one bit-flip (the twin's
#: SQL is written for exactly this).
LSH_N_PROBE = 2
IVF_CELLS = 16
IVF_CLUSTERS = 8
IVF_N_PROBE = 4
IVF_ITERS = 5
#: MMR re-rank: k picks from a pool of candidates, relevance weight lam.
MMR_K = 5
MMR_POOL = 20
MMR_LAM = 0.7
