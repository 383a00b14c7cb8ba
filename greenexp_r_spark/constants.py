"""Deterministic synthetic-world constants (FIXTURES.md).

Everything here is pure 64-bit integer arithmetic so that Spark SQL and
DuckDB compute *bit-identical* values — this is what makes every geo
operator exactly verifiable against the driver's DuckDB oracle.

World: a square metric region x,y ∈ [0, 20_000) meters.  The driver's
``documents`` table provides the address points ("geocoded urls" per
BASELINE.json input_hint); geo columns are derived from ``doc_id``.
Reference analogs cited per SURVEY.md §2.
"""

# ---- world extent -------------------------------------------------------
WORLD_SIZE = 20_000          # meters, both axes
P31 = 2_147_483_647          # Mersenne prime 2^31-1, the mixing modulus

# ---- point geocoding (pages table; reference analog Ams_Houses,
#      GreenExp_R R/data.R:19-34) ----------------------------------------
X_MUL, X_ADD = 2_654_435_761, 12_345
Y_MUL, Y_ADD = 1_099_087_573, 54_321

# ---- pages capture epoch + snapshot-delta cutoff ------------------------
# the single source of the 2024-01-01T00:00:00Z epoch every capture
# timestamp builds on (sources/pages.py re-exports it)
EPOCH_2024_S = 1_704_067_200
# ~23 days into 2024: first captures land at (doc_id*7919+101)%YEAR_S,
# so a cutoff inside that early window exercises added AND unchanged
# AND recrawled_same at every test scale (verified sf0.001/0.01/0.1)
SNAP_CUTOFF_US = (EPOCH_2024_S + 2_000_000) * 1_000_000

# ---- buffers (reference default: ndvi_calc.R buffer_distance arg) -------
BUFFER_M = 300               # the README's canonical 300 m buffer

# ---- NDVI virtual raster (reference analog: Sentinel-2 NDVI,
#      ndvi_calc.R:308-318). res 10 m, value from cell-index hash. -------
NDVI_RES = 10
NDVI_H_A, NDVI_H_B = 73_856_093, 19_349_663   # classic spatial-hash primes
NDVI_MOD = 1_000             # h in [0,1000)
NDVI_NA_MOD = 97             # h % 97 == 0 → NA cell (→ 0 per ndvi_calc.R:336)

# ---- Sentinel-2-style two-band raster (ndvi_calc.R:315-318:
#      ndvi = (nir - red) / (red + nir)).  Bands are positive integer
#      reflectances; per-cell ndvi is quantized with FLOOR (identical
#      in numpy/Spark/DuckDB — round() differs: numpy is banker's) so
#      zonal sums stay integer-exact. --------------------------------------
RED_H_A, RED_H_B = 15_485_863, 32_452_843
NIR_H_A, NIR_H_B = 49_979_687, 67_867_967
RED_MOD, NIR_MOD = 2_000, 3_000
BAND_Q = 1_000_000           # ndvi micro-unit quantization

# ---- land-cover virtual raster (ESA WorldCover codes,
#      land_cover.R:312-347) ----------------------------------------------
LC_RES = 10
LC_H_A, LC_H_B = 40_503, 104_729
LC_CODES = [10, 20, 30, 40, 50, 60, 80, 90]   # codes present in the world
LC_ALL_CODES = [10, 20, 30, 40, 50, 60, 70, 80, 90, 95, 100]
# ^ full WorldCover class list the reference hard-codes as output
#   columns (land_cover.R:393-399); absent codes emit zero-filled
#   columns (its setdiff missing-column fill)
# code → label map, land_cover.R:333-347
LC_LABELS = {
    10: "tree_cover", 20: "shrubland", 30: "grassland", 40: "cropland",
    50: "built_up", 60: "bare_vegetation", 70: "snow_ice",
    80: "permanent_water_bodies", 90: "herbaceous_wetland",
    95: "mangroves", 100: "moss_lichen",
}
GREEN_CODES = [10, 30, 20]   # tree+grass+shrub → greencover composite
                             # (green_cover_streets.R:244-246)

# ---- parks (reference analog Ams_Parks, R/data.R:37-53; OSM tags
#      accessibility.R:185-201) -------------------------------------------
N_PARKS = 60
PARK_HOT_X = [3_000, 16_000, 8_000]    # 3 urban hotspots → join skew
PARK_HOT_Y = [3_000, 5_000, 15_000]
PARK_HOT_FRACTION_MOD = 10             # park_id % 10 < 7 → hotspot (70%)
PARK_CX_MUL, PARK_CX_ADD = 7_919, 31
PARK_CY_MUL, PARK_CY_ADD = 6_553, 77
PARK_SPREAD = 2_401                    # hotspot jitter ± 1200 m
PARK_FAR_MUL, PARK_FAR_ADD = 104_729, 99
PARK_FARY_MUL, PARK_FARY_ADD = 92_821, 913
PARK_R_MUL, PARK_R_MOD = 31, 361       # radius 40..400 m
PARK_SMALL_MOD = 9                     # park_id % 9 == 0 → 8 m (area<400,
                                       # exercises min-size filter,
                                       # accessibility.R:211-214)
MIN_GREENSPACE_M2 = 400                # WHO threshold, README.md:349-350
OSM_TAGS = [  # round-robin tag assignment (accessibility.R:185-201)
    ("landuse", "allotments"), ("landuse", "forest"),
    ("landuse", "greenfield"), ("landuse", "village_green"),
    ("leisure", "garden"), ("leisure", "fitness_station"),
    ("leisure", "nature_reserve"), ("leisure", "park"),
    ("leisure", "playground"), ("natural", "grassland"),
]

# ---- road lattice (reference analog network_file, R/data.R:57-74) -------
ROAD_N = 201                 # nodes per axis → 201×201 lattice
ROAD_SPACING = 100           # meters between lattice nodes
ROAD_DEL_MUL, ROAD_DEL_ADD = 2_654_435_761, 7
ROAD_DEL_MOD = 17            # hash % 17 == 0 → edge deleted (detours +
                             # islands; largest-component prune,
                             # ndvi_calc.R:151-171)
NET_MAX_DIST = 1_000         # bounded network search radius, meters
NET_HOP = 100                # edge weight = lattice spacing
# heterogeneous edge weights (weight = edge_length(), the reference's
# actual Dijkstra semantics, accessibility.R:343-356 / ndvi_calc.R:175-176):
# length_m = 80 + hash(edge_id) % 61 → 80..140 m
WEDGE_MUL, WEDGE_ADD = 48_271, 3
WEDGE_SPAN = 61
WEDGE_BASE = 80
# pseudo-entrances: network nodes inside the dissolved (radius+20 m)
# park buffer (accessibility.R:223-247, st_buffer(greenspace, 20))
ENTRANCE_BUFFER_M = 20
# "unbounded" OD fallback (accessibility.R:352-358): cap far above the
# world's true max shortest path so the search is effectively unbounded
# (verified empirically; reference reports Max 27,532 m the same way —
# finite because the network is)
EXT_MAX_DIST = 8_000

# ---- canopy trees (canopy_coverage.R:269-291) ----------------------------
N_TREES = 600
TREE_X_MUL, TREE_X_ADD = 48_271, 11
TREE_Y_MUL, TREE_Y_ADD = 16_807, 23
TREE_R_BASE_X10, TREE_R_MOD = 20, 30   # radius = 2.0 + (h%30)/10 m

# ---- visibility (vgvi_from_sf.R defaults; src/vgvi.cpp) ------------------
VIS_RES = 5.0                # DSM/DTM/GS resolution at test scale
VIS_MAX_DIST = 200.0         # max_distance default 800 scaled down
OBSERVER_HEIGHT = 1.7        # vgvi_from_sf.R:240-244
VGVI_M, VGVI_B = 0.5, 8.0    # decay defaults, vgvi_from_sf.R:89-93

# ---- cell bucketing (the H3-equivalent equi-join grid) -------------------
CELL_SIZE = 500              # meters; cell_id = cx * 65536 + cy
CELL_SHIFT = 65_536

# ---- text / dedup --------------------------------------------------------
MINHASH_PERMS = [                      # (a, b) pairs, h' = (a*h+b) % P31
    (1_103_515_245, 12_345), (214_013, 2_531_011),
    (69_069, 1_234_567), (1_664_525, 1_013_904_223),
    (22_695_477, 1), (134_775_813, 1_724_254_733),
    (214_903_917, 11), (747_796_405, 2_891_336_453 % P31),
]
MINHASH_BAND_ROWS = 2                  # 8 perms → 4 bands of 2
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 60            # 60 = 4 blocks × 15 bits; wide enough that
                             # hamming≤3 means near-identical shingle sets
SIMHASH_MAX_HAMMING = 3
SIMHASH_BLOCKS = 4           # pigeonhole: ≤3 flipped bits damage ≤3 of
                             # 4 blocks → candidates share ≥1 whole block
SIMHASH_BLOCK_BITS = 15      # 32_768-value blocking keyspace per block
                             # (round 1's 4-bit nibbles had 16 → n/16
                             # bucket sizes → quadratic candidates)
# per-bit affine rehash of the (31-bit) shingle so all 60 signature
# bits are fair coins — bit b = parity of (sh*a_b + b_b) % P31.
# Without this, bits ≥ 31 of the raw shingle are always 0 and the top
# block would match every pair.
SIMHASH_BIT_PERMS = [
    ((1_103_515_245 * (b + 1) + 12_345) % P31,
     (214_013 * (b + 1) + 2_531_011) % P31)
    for b in range(SIMHASH_BITS)
]
WORDHASH_P1, WORDHASH_P2 = 131, 7      # wh = ascii(c1)*131 + ascii(c2)*7 + len
SHINGLE_MUL = 100_003                  # shingle = (wh1*SHINGLE_MUL + wh2) % P31

# ---- hashed-feature quality classifier (operators/classify.py) -----------
NB_BUCKETS = 4096            # hashing-trick feature space (model is
                             # dimension-sized by construction: ≤4096 rows)
NB_SCALE = 1_000_000         # integer posterior scale (micro-units)
NB_KEEP_PM = 500_000         # keep when mean posterior ≥ 0.5
NB_STOP_NUM = 5              # label: stopword_cnt*5 ≥ n_tokens ⇔ ≥20% stopwords

# ---- hashed bigram LM quality bucketing (operators/lmscore.py) -----------
LM_BUCKETS = 65_536          # hashed bigram/prefix keyspace (model tables
                             # are dimension-sized by construction)
LM_STOP_NUM = 10             # in-domain slice: ≥10% stopwords (the NB 20%
                             # rule keeps only ~0.4% of this corpus — too
                             # thin to train on)
LM_SMOOTH = 100              # Laplace denominator add (vocab-scale)
LM_HEAD_PM = 23_000          # fixed bucket cutoffs in micro-units — the
LM_TAIL_PM = 21_000          # analog of CCNet's precomputed percentiles
                             # (chosen from the synthetic corpus's score
                             # quartiles, as CCNet fixes them per language)

# ---- BM25 relevance scoring (operators/bm25.py) --------------------------
BM25_TERMS = ("dup", "spark", "scan", "merge")   # fixed query-term set:
                                                 # df spread 25..398 at
                                                 # sf0.01 exercises the
                                                 # full idf range

# ---- similarity search ---------------------------------------------------
ANN_K = 3
ANN_QUERIES = 10                       # first N vec_ids used as queries
IVF_CENTROID_MOD = 50                  # vec_id % 50 == 0 → centroid (10 lists)
IVF_NPROBE = 2

# ---- stopwords for langid / quality (synthetic-corpus-aware) -------------
STOPWORDS_EN = ["the", "a", "of", "and"]
LANG_MARKERS = {
    "en": ["the", "a"], "nl": ["de", "het"], "de": ["der", "das"],
    "fr": ["le", "la"], "es": ["el", "los"], "zh": ["zh0", "zh1"],
}
