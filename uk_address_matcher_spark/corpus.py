"""Deterministic synthetic corpus of interleaved text+media documents.

Input model (BASELINE.json `input_hint`): a table of
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``
where ``kind`` is 'text' | 'postcode' | 'media'. Address fields are
*derived views* (see extract.py); media spans pass through untouched and
the span sequence per document is never mutated.

Two corpora:
 - :func:`edge_case_documents` — the 21 labeled blocks transcribed from the
   reference's test corpus (/root/reference/tests/edge_case_addresses.yaml:1-176;
   convention: the FIRST canonical address is the true match).
 - :func:`grid_documents` — an arbitrarily large generated corpus built
   entirely with Spark expressions (no driver-side loops, no RNG state):
   every choice is a pure function of xxhash64(doc_id), so the corpus is
   identical at any parallelism and any scale, and generation itself
   distributes across executors.

Postcode block sizes are deliberately Zipf-skewed (street index drawn via
pow(u, SKEW)) so that blocking-join skew handling (AQE + optional salting)
is exercised, mirroring real UK postcode density.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_TYPE)),
    ]
)

# ---------------------------------------------------------------------------
# Labeled edge-case corpus
# ---------------------------------------------------------------------------
# Transcribed test DATA (addresses + truth convention) from
# /root/reference/tests/edge_case_addresses.yaml:1-176. Within each block the
# first canonical address is the true match for the messy address.
EDGE_CASE_BLOCKS: list[dict] = [
    {
        "block": 1,
        "messy": ("FIRST FLOOR FLAT 21 PEPPERPOT ROAD LONDON", "W11 1AA"),
        "canonical": [
            ("FLAT A FIRST AND SECOND FLOORS 21 PEPPERPOT ROAD LONDON", "W11 1AA"),
            ("FLAT GROUND FLOOR 21 PEPPERPOT ROAD LONDON", "W11 1AA"),
            ("FLAT FIRST FLOOR 29 PEPPERPOT ROAD LONDON", "W11 1AA"),
            ("FLAT FIRST FLOOR 19 PEPPERPOT ROAD LONDON", "W11 1AA"),
            ("21 PEPPERPOT ROAD LONDON", "W11 1AA"),
        ],
    },
    {
        "block": 2,
        "messy": ("BASEMENT FLAT 45 BAKER STREET LONDON", "A11 1AA"),
        "canonical": [
            ("FLAT BASEMENT 45 BAKER STREET LONDON", "A11 1AA"),
            ("FLAT GROUND FLOOR 45 BAKER STREET LONDON", "A11 1AA"),
            ("FLAT FIRST FLOOR 45 BAKER STREET LONDON", "A11 1AA"),
            ("45 BAKER STREET LONDON", "A11 1AA"),
        ],
    },
    {
        "block": 3,
        "messy": ("5 LOVE LANE KING'S LANGLEY HERTFORSHIRE", "WD4 9HW"),
        "canonical": [
            ("5 LOVE LANE KINGS LANGLEY", "WD4 9HW"),
            ("7 LOVE LANE KINGS LANGLEY", "WD4 9HW"),
            ("ASHFIELDS LOVE LANE KINGS LANGLEY", "WD4 9HW"),
            ("THE ANNEXE ASHFIELDS LOVE LANE KINGS LANGLEY HERTFORDSHIRE", "WD4 9HW"),
        ],
    },
    {
        "block": 4,
        "messy": ("SECOND FLOOR FLAT 61 BRYNDWR ROAD LONDON", "W11 9AA"),
        "canonical": [
            ("FLAT A SECOND FLOOR 61 BRYNDWR ROAD LONDON", "W11 9AA"),
            ("FLAT GROUND FLOOR 61 BRYNDWR ROAD LONDON", "W11 9AA"),
            ("SECOND FLOOR FLAT 58 BRYNDWR ROAD LONDON", "W11 9AA"),
            ("61 BRYNDWR ROAD LONDON", "W11 9AA"),
        ],
    },
    {
        "block": 5,
        "messy": ("14 BROADSTONE GROVE BROOKFORD MILTON KEYNES", "ZZ10 1ZZ"),
        "canonical": [
            ("14 BROADSTONE GROVE BROOKFORD MILTON KEYNES", "ZZ10 1ZY"),
            ("2 BROADSTONE GROVE BROOKFORD MILTON KEYNES", "ZZ10 1ZZ"),
        ],
    },
    {
        "block": 6,
        "messy": ("TOP FLOOR FLAT 30 SOUTH EDGE CRESCENT LONDON", "ZZ20 2ZZ"),
        "canonical": [
            ("FLAT FIRST FLOOR 30 SOUTH EDGE CRESCENT LONDON", "ZZ20 2ZZ"),
            ("GROUND FLOOR FLAT 30 SOUTH EDGE CRESCENT LONDON", "ZZ20 2ZZ"),
            ("FLAT SECOND AND THIRD FLOORS 30 SOUTH EDGE CRESCENT LONDON", "ZZ20 2ZZ"),
            ("PIZZA PALACE 30 SOUTH EDGE CRESCENT LONDON", "ZZ20 2ZZ"),
        ],
    },
    {
        "block": 7,
        "messy": ("FLAT B 153 WEXFORD ROAD LONDON", "ZZ1 9ZZ"),
        "canonical": [
            ("FLAT 2 153 WEXFORD ROAD LONDON", "ZZ1 9ZZ"),
            ("FLAT B 155 WEXFORD ROAD LONDON", "ZZ1 9ZZ"),
            ("153 WEXFORD ROAD LONDON", "ZZ1 9ZZ"),
            ("FLAT B GROUND FLOOR 163 WEXFORD ROAD LONDON", "ZZ1 9ZZ"),
            ("FLAT B 165 WEXFORD ROAD LONDON", "ZZ1 9ZZ"),
        ],
    },
    {
        "block": 8,
        "messy": ("SUES NAILS RAINBOW LANE LONDON", "AB1 2CD"),
        "canonical": [
            ("SUES NAILS 6 RAINBOW ROAD LONDON", "AB1 2CD"),
            ("8 RAINBOW ROAD LONDON", "AB1 2CD"),
            ("9 RAINBOW ROAD LONDON", "AB1 2CD"),
            ("7 RAINBOW ROAD LONDON", "AB1 2CD"),
            ("BIRTCHFIELDS HOUSE RAINBOW ROAD LONDON", "AB1 2CD"),
        ],
    },
    {
        "block": 9,
        "messy": ("BURGER PARADISE 9 RAINBOW LANE LONDON", "AB1 2CD"),
        "canonical": [
            ("9 RAINBOW ROAD LONDON", "AB1 2CD"),
            ("SUES NAILS 6 RAINBOW ROAD LONDON", "AB1 2CD"),
            ("8 RAINBOW ROAD LONDON", "AB1 2CD"),
            ("7 RAINBOW ROAD LONDON", "AB1 2CD"),
            ("BIRTCHFIELDS HOUSE RAINBOW ROAD LONDON", "AB1 2CD"),
        ],
    },
    {
        "block": 10,
        "messy": ("THE OLD FARM COTTAGE PAD FARM BADGERCROFT ROAD PIKING", "ZZ1 0ZZ"),
        "canonical": [
            ("OLD FARM COTTAGE BADGERCROFT ROAD PIKING", "ZZ1 0ZZ"),
            ("PAD FARM HOUSE BADGERCROFT ROAD PIKING", "ZZ1 0ZZ"),
        ],
    },
    {
        "block": 11,
        "messy": ("144 & A HALF PIPER ROAD LONDON", "W14 0AA"),
        "canonical": [
            ("144 AND A HALF PIPER ROAD LONDON", "W14 0AA"),
            ("FLAT A BASEMENT 144 AND A HALF PIPER ROAD LONDON", "W14 0AA"),
            ("FLAT B 144 AND A HALF PIPER ROAD LONDON", "W14 0AA"),
            ("FLAT D 144 AND A HALF PIPER ROAD LONDON", "W14 0AA"),
        ],
    },
    {
        "block": 12,
        "messy": ("74 HIGH STREET NEWPORT HITCHIN", "HH16 8AQ"),
        "canonical": [
            ("FLAT 74 HIGH STREET NEWPORT HITCHIN", "HH16 8AQ"),
            ("NATURAL NAILS 74 HIGH STREET NEWPORT HITCHIN", "HH16 8AQ"),
            ("DAVES 74B HIGH STREET NEWPORT HITCHIN", "HH16 8AQ"),
        ],
    },
    {
        "block": 13,
        "messy": ("29 BEAUWAY COLOURED SANDS", "MK1 1AA"),
        "canonical": [
            ("29 BEAUWAY WAVENDON", "MK1 1AA"),
            ("29 PARKWAY COLOURED SANDS", "MK1 1AB"),
            ("29 TURNPIKE COURT COLOURED SANDS", "MK1 1AC"),
            ("29 CHAPEL STREET COLOURED SANDS", "MK1 1AC"),
            ("29 TAVISTOCK CLOSE COLOURED SANDS", "MK1 1AC"),
        ],
    },
    {
        "block": 14,
        "messy": ("13 ADELLE DRIVE HISLOP MILTON KEYNES", "MKA 7NP"),
        "canonical": [
            ("13 ADELLE ROAD HISLOP", "MKA 7NP"),
            ("13 FENTON DRIVE HISLOP MILTON KEYNES", "MKA 7GB"),
            ("13 HARRATT CLOSE HISLOP MILTON KEYNES", "MKA 7GD"),
            ("13 STEEVES AVENUE HISLOP MILTON KEYNES", "MKA 7GE"),
        ],
    },
    {
        "block": 15,
        "messy": (
            "ZEBRA HOUSE 25 FLAT 45 GOVERNMENT ROAD ST ALBANS ST ALBANS",
            "AL1 1AA",
        ),
        "canonical": [
            ("FLAT 45 ZEBRA HOUSE 25 GOVERNMENT ROAD ST ALBANS", "AL1 1AA"),
            ("FLAT 26 ZEBRA HOUSE 25 GOVERNMENT ROAD ST ALBANS", "AL1 1AA"),
            ("45 GOVERNMENT ROAD ST ALBANS", "AL1 1AA"),
        ],
    },
    {
        "block": 16,
        "messy": ("11 WEST STREET WAVHAM-BY-SEA WAVHAM-BY-SEA", "AA11 2BB"),
        "canonical": [
            ("11 WEST STREET WAVHAM-BY-SEA", "AA11 2BB"),
            (
                "DEVELOPMENT SITE OF 11 WEST STREET AND REAR HALL WEST STREET "
                "WAVHAM-BY-SEA WAVHAM-BY-SEA",
                "AA11 2BB",
            ),
        ],
    },
    {
        "block": 17,
        "messy": ("15 FRANKLINS CROFT BIRDTON MILTON KEYNES", "MK99 1DD"),
        "canonical": [
            ("15 FRANKLINS CROFT BIRDTON", "MK99 1DD"),
            ("15 TRINITY ROAD OLD BIRDTON MILTON KEYNES", "MK99 1PD"),
            ("28 FRANKLINS CROFT BIRDTON", "MK99 1DD"),
            ("1 FRANKLINS CROFT BIRDTON", "MK99 1DD"),
            ("3 FRANKLINS CROFT BIRDTON", "MK99 1DD"),
        ],
    },
    {
        "block": 18,
        "messy": ("8, CHURCH GARDENS, CAPFIELD, LYNN", "HA1 1AA"),
        "canonical": [
            ("8, CHURCH GARDENS, CAPFIELD", "HA1 1AA"),
            ("ANNEXE AT, 8, CHURCH GARDENS, CAPFIELD", "HA1 1AA"),
        ],
    },
    {
        "block": 19,
        "messy": ("APPLE AUCTION HOUSE 12 FRUIT STREET PUDDING LANE LANE", "A1 1AA"),
        "canonical": [
            ("APPLE AUCTION HOUSE 12 FRUIT STREET PUDDING LANE LANE", "A1 1AA"),
            ("PUDDING STORES PEAR AUCTION HOUSE 13 FRUIT STREET", "A1 1AA"),
            ("PEAR HOUSE 12 FRUIT STREET", "A1 1AA"),
            ("APPLE HOUSE 12 FRUIT STREET", "A1 1AA"),
        ],
    },
    {
        "block": 20,
        "messy": ("12 FRUIT STREET PUDDING LANE", "A1 1AA"),
        "canonical": [
            ("12 FRUIT STREET", "A1 1AA"),
            ("13 FRUIT STREET", "A1 1AA"),
            ("12 VEG STREET PUDDING LANE", "A1 1AB"),
            ("13 VEG STREET PUDDING LANE", "A1 1AB"),
            ("1 VEG STREET PUDDING LANE", "A1 1AA"),
        ],
    },
    {
        "block": 21,
        "messy": ("FLAT 2 92 KINGSWAY BIRMINGHAM", "A1 1AB"),
        "canonical": [
            ("FLAT 2 92-92A KINGSWAY BIRMINGHAM", "A1 1AB"),
            ("FLAT 2 102 KINGSWAY BIRMINGHAM", "A1 1AB"),
        ],
    },
]


def edge_case_flat_rows() -> tuple[list[tuple], list[tuple]]:
    """Flat rows for the edge-case corpus.

    Returns (address_rows, label_rows) where address_rows are
    (unique_id, address_concat, postcode, side, test_block) and label_rows
    are (unique_id, correct_unique_id, test_block).
    """
    addresses: list[tuple] = []
    labels: list[tuple] = []
    for blk in EDGE_CASE_BLOCKS:
        b = blk["block"]
        m_id = f"m{b}-0"
        addr, pc = blk["messy"]
        addresses.append((m_id, addr, pc, "m", b))
        for i, (caddr, cpc) in enumerate(blk["canonical"]):
            c_id = f"c{b}-{i}"
            addresses.append((c_id, caddr, cpc, "c", b))
            if i == 0:
                labels.append((m_id, c_id, b))
    return addresses, labels


# ---------------------------------------------------------------------------
# Interleaved-span construction (shared by both corpora) — pure expressions
# ---------------------------------------------------------------------------


def _media_span(doc_id: Column, tag: str) -> Column:
    return F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        F.concat(F.lit("media://"), F.md5(F.concat(doc_id, F.lit(tag)))).alias(
            "media_ref"
        ),
        F.lit(0).alias("offset"),
    )


def _text_span(text: Column, kind: str = "text") -> Column:
    return F.struct(
        F.lit(kind).alias("kind"),
        text.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )


def to_documents(flat: DataFrame) -> DataFrame:
    """(unique_id, address_concat, postcode, ...) -> interleaved documents.

    The address is split into two text spans (front / back half of the token
    list), a postcode span, and 0-3 media spans interleaved at positions
    that are a pure function of xxhash64(unique_id) — so the invariant test
    (span-sequence preservation) is non-trivial. Offsets are re-numbered
    0..n-1 in sequence order. Extra columns are passed through.
    """
    flat = (
        flat.withColumn("__toks", F.split(F.col("address_concat"), r"\s+"))
        .withColumn("__cut", F.ceil(F.size("__toks") / 2).cast("int"))
    )
    toks, cut = F.col("__toks"), F.col("__cut")
    front = F.array_join(F.slice(toks, 1, cut), " ")
    back = F.when(
        F.size(toks) > cut,
        F.array_join(
            F.slice(toks, cut + 1, F.greatest(F.size(toks) - cut, F.lit(0))), " "
        ),
    )
    # md5-derived (not xxhash64) so the media-span presence rule is
    # reproducible in ANSI SQL: DuckDB's ('0x'||substring(md5(x),1,8))::BIGINT
    # computes the identical value, letting the driver oracle replay the
    # media derivation end-to-end.
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("unique_id"), F.lit("media"))), 1, 8), 16, 10
    ).cast("bigint")
    doc_id = F.col("unique_id")

    span_candidates = F.array(
        F.when(h % 4 == 1, _media_span(doc_id, "a")),
        _text_span(front),
        F.when(h % 3 == 1, _media_span(doc_id, "b")),
        F.when(back.isNotNull(), _text_span(back)),
        _text_span(F.col("postcode"), kind="postcode"),
        F.when(h % 5 == 2, _media_span(doc_id, "c")),
    )
    spans_no_offset = F.filter(span_candidates, lambda s: s.isNotNull())
    spans = F.transform(
        spans_no_offset,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    extra = [
        c
        for c in flat.columns
        if c not in ("unique_id", "address_concat", "postcode", "__toks", "__cut")
    ]
    return flat.select(
        F.col("unique_id").alias("doc_id"), spans.alias("spans"), *extra
    )


def edge_case_documents(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """The 21 labeled blocks as interleaved documents + labels."""
    addresses, labels = edge_case_flat_rows()
    flat = spark.createDataFrame(
        addresses, "unique_id string, address_concat string, postcode string, side string, test_block int"
    )
    docs = to_documents(flat)
    labels_df = spark.createDataFrame(
        labels, "unique_id string, correct_unique_id string, test_block int"
    )
    return docs, labels_df


# ---------------------------------------------------------------------------
# Volume corpus — generated with pure Spark expressions at any scale
# ---------------------------------------------------------------------------

_STREET_NAMES = [
    "PEPPERPOT", "BAKER", "BRYNDWR", "BROADSTONE", "WEXFORD", "RAINBOW",
    "BADGERCROFT", "PIPER", "KINGSWAY", "FRANKLINS", "ADELLE", "CHURCH",
    "FRUIT", "GOVERNMENT", "WEST", "SOUTH EDGE", "LOVE", "HIGH", "STATION",
    "VICTORIA", "ALBERT", "MILL", "PARK", "QUEENS", "ORCHARD", "SPITFIRE",
    "TAVISTOCK", "TURNPIKE", "CHAPEL", "TRINITY", "BEAUMONT", "CLARENCE",
    "WINDSOR", "GLOUCESTER", "PEMBROKE", "HEREFORD", "LANCASTER", "YORK",
    "RICHMOND", "WARWICK",
]
_STREET_KINDS = ["ROAD", "STREET", "LANE", "AVENUE", "CLOSE", "DRIVE", "GROVE", "CRESCENT"]
_TOWNS = [
    "LONDON", "BIRMINGHAM", "MILTON KEYNES", "HITCHIN", "ST ALBANS",
    "KINGS LANGLEY", "BRIGHTON", "LEEDS", "YORK", "OXFORD", "CAMBRIDGE",
    "NORWICH", "EXETER", "DURHAM", "LANCASTER", "PRESTON",
]
_FLOORS = ["BASEMENT", "GROUND FLOOR", "FIRST FLOOR", "SECOND FLOOR", "TOP FLOOR"]

BASE_STREETS = 4000  # floor on distinct street identities
HOUSES_PER_STREET = 15  # average — the number of STREETS scales with the
# corpus so postcode-block sizes stay fixed (real UK: ~1.8M postcodes for
# ~30M addresses; block size must NOT grow with dataset size)
MAX_STREETS = 380_000  # injectivity bound of the street->postcode encoding
STREET_SKEW = 2.5  # local street = floor(u^SKEW * streets): Zipf-ish block sizes

# Sharded street model: docs are split into fixed 50k-doc shards, each
# drawing its OWN Zipf street distribution over its own 4000 streets. A
# single global Zipf over n_streets ∝ n puts quantile mass
# (1/n_streets)^(1/SKEW) on street 0, so the hottest street grows ~n^0.6
# and candidate pairs per doc go SUPERLINEAR (measured: 37 pairs/doc at
# 100k docs -> 145 at 1M; BENCH/CORPUS.md). Sharding bounds every street
# by the 50k-shard distribution, so pairs/doc is flat in n.
SHARD_DOCS = 50_000
STREETS_PER_SHARD = max(BASE_STREETS, SHARD_DOCS // HOUSES_PER_STREET)  # 4000
MAX_SHARDS = MAX_STREETS // STREETS_PER_SHARD  # 95; beyond: street reuse


def _pick(col_arr: list[str], idx: Column) -> Column:
    return F.element_at(F.array(*[F.lit(x) for x in col_arr]), (idx + 1).cast("int"))


def grid_canonical_flat(spark: SparkSession, n: int) -> DataFrame:
    """n canonical addresses, fully distributed + deterministic.

    Uniqueness by construction: house number = dense rank of the id within
    its street (one window pass at generation time only). Street sizes
    follow the sharded model above, so pairs/doc is flat in n.
    """
    from pyspark.sql import Window

    df = spark.range(n).withColumnRenamed("id", "seq")
    u = (F.abs(F.xxhash64(F.lit("street"), F.col("seq"))) % 100000) / 100000.0
    shard = (F.col("seq") / SHARD_DOCS).cast("long") % MAX_SHARDS
    local = F.floor(F.pow(u, F.lit(STREET_SKEW)) * STREETS_PER_SHARD)
    street_idx = (shard * STREETS_PER_SHARD + local).cast("long")
    df = df.withColumn("street_idx", street_idx)
    w = Window.partitionBy("street_idx").orderBy("seq")
    df = df.withColumn("house_no", F.row_number().over(w))

    # mixed-radix decomposition: (name, kind, town) is injective over
    # street_idx < 40*8*16 = 5120; beyond that street TEXT repeats in a
    # different (injective) postcode sector — as real street names do
    # across UK towns; (address_concat, postcode) stays globally unique
    name = _pick(_STREET_NAMES, F.col("street_idx") % len(_STREET_NAMES))
    # NAME-TOKEN VOCABULARY must grow with the corpus, as real data's
    # does: with the fixed 40-name vocabulary, the token-keyed
    # blocking rules go superlinear — measured per-rule at 50k vs
    # 500k canonical, rule [(V1,V1),(N1,N1)] (very-unusual token +
    # house number, no postcode) is 1.3M pairs (34%) at 100k docs but
    # 125.8M (80%) at 1M: ~n^2, because every 40th street shares one
    # name token. Suffix the name with the text-range index so each
    # 5,120-street range gets a fresh 40-name vocabulary (vocab size
    # ~ n_streets/128, block sizes flat in n). street_idx < 5120
    # covers all n <= 50k canonical (shard 0 only), so those corpora
    # carry no suffix.
    text_radix = len(_STREET_NAMES) * len(_STREET_KINDS) * len(_TOWNS)
    g = (F.col("street_idx") / text_radix).cast("long")
    name = F.when(g > 0, F.concat(name, g.cast("string"))).otherwise(name)
    kind = _pick(
        _STREET_KINDS,
        (F.col("street_idx") / len(_STREET_NAMES)).cast("long") % len(_STREET_KINDS),
    )
    town = _pick(
        _TOWNS,
        (F.col("street_idx") / (len(_STREET_NAMES) * len(_STREET_KINDS))).cast("long")
        % len(_TOWNS),
    )
    street = F.concat_ws(" ", name, kind)

    h = F.abs(F.xxhash64(F.lit("flat"), F.col("seq")))
    flat_prefix = F.when(
        h % 7 == 0,
        F.concat(F.lit("FLAT "), F.element_at(F.array(*[F.lit(c) for c in "ABCDE"]), (h % 5 + 1).cast("int"))),
    ).when(h % 7 == 1, _pick(_FLOORS, h % len(_FLOORS)).cast("string"))

    addr = F.concat_ws(
        " ",
        flat_prefix,
        F.col("house_no").cast("string"),
        street,
        town,
    )
    # postcode sector is injective in street_idx up to 26*26*9*8*8 = 389k
    # streets: one street per sector, as in real UK postcodes; houses split
    # into inward digit groups of 24. Outward 'LL9' matches the UK format
    # ([A-Z]{1,2}\d[A-Z\d]?), inward is \d[A-Z]{2}.
    i = F.col("street_idx")
    letters = lambda s: F.array(*[F.lit(c) for c in s])  # noqa: E731
    alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    outward = F.concat(
        F.element_at(letters(alpha), (i % 26 + 1).cast("int")),
        F.element_at(letters(alpha), ((i / 26).cast("long") % 26 + 1).cast("int")),
        (((i / 676).cast("long") % 9) + 1).cast("string"),
    )
    inward = F.concat(
        (((F.col("house_no") / 24).cast("long") % 9) + 1).cast("string"),
        F.element_at(
            letters("ABCDEFGH"), ((i / 6084).cast("long") % 8 + 1).cast("int")
        ),
        F.element_at(
            letters("RSTUVWXY"), ((i / 48672).cast("long") % 8 + 1).cast("int")
        ),
    )
    postcode = F.concat_ws(" ", outward, inward)
    return df.select(
        F.concat(F.lit("c"), F.col("seq").cast("string")).alias("unique_id"),
        addr.alias("address_concat"),
        postcode.alias("postcode"),
    )


def messy_from_canonical(canonical_flat: DataFrame, dup_factor: int = 1) -> tuple[DataFrame, DataFrame]:
    """Perturbed messy copies of canonical rows + ground-truth labels.

    Perturbation is chosen per messy id by hash — the noise classes mirror
    what the cleaning pipeline is designed to undo (reference regex corpus:
    /root/reference/uk_address_matcher/cleaning/regexes.py:4-153 and
    cleaning test cases).
    """
    reps = F.explode(F.sequence(F.lit(0), F.lit(dup_factor - 1)))
    df = canonical_flat.select("*", reps.alias("rep"))
    m_id = F.concat(F.lit("m"), F.expr("substring(unique_id, 2)"), F.lit("-"), F.col("rep"))
    v = F.abs(F.xxhash64(F.lit("noise"), m_id)) % 10

    addr = F.col("address_concat")
    toks = F.split(addr, " ")
    last_tok = F.element_at(toks, -1)
    noisy_addr = (
        F.when(v == 0, addr)
        .when(v == 1, F.lower(addr))  # case noise
        .when(v == 2, F.regexp_replace(addr, r"\s", ", "))  # comma noise
        .when(v == 3, F.concat(addr, F.lit(" "), last_tok))  # duplicated end token
        .when(v == 4, F.array_join(F.slice(toks, 1, F.size(toks) - 1), " "))  # town dropped
        .when(v == 5, F.concat(addr, F.lit(" UNITED KINGDOM")))  # extra suffix
        .when(v == 6, F.regexp_replace(addr, r"^FLAT ([A-Z0-9]+) ", r"$1 "))  # FLAT dropped
        .when(v == 7, F.concat(addr, F.lit("'S")))  # apostrophe noise
        .when(
            v == 8,  # street kind dropped ('CHURCH ROAD' -> 'CHURCH')
            F.regexp_replace(
                addr, r" (ROAD|STREET|LANE|AVENUE|CLOSE|DRIVE|GROVE|CRESCENT) ", " "
            ),
        )
        .otherwise(addr)  # v == 9: postcode typo below, address untouched
    )
    pc = F.col("postcode")
    noisy_pc = (
        F.when(v == 2, F.regexp_replace(pc, " ", ""))
        # outward-district typo (digit -> 0, which no real postcode uses, so
        # the corrupted code never collides with another street's postcode):
        # recoverable via the n1+u1+inward rule (an inward typo on a
        # single-rare-token street is unblockable under the reference's 18
        # rules — by design, not noise)
        .when(
            v == 9,
            F.concat(
                F.regexp_replace(F.split_part(pc, F.lit(" "), F.lit(1)), r"\d$", "0"),
                F.lit(" "),
                F.split_part(pc, F.lit(" "), F.lit(2)),
            ),
        )
        .otherwise(pc)
    )

    messy = df.select(
        m_id.alias("unique_id"),
        noisy_addr.alias("address_concat"),
        noisy_pc.alias("postcode"),
    )
    labels = df.select(
        m_id.alias("unique_id"),
        F.col("unique_id").alias("correct_unique_id"),
    )
    return messy, labels


def skew_postcodes(
    flat: DataFrame, n_hot: int = 500, hot_share: float = 0.10
) -> DataFrame:
    """Zipf-worst-case variant of a flat address table: ~``hot_share`` of
    the ROWS are remapped into only ``n_hot`` distinct postcodes.

    Models the reference's worst blocking case — a dense city sector where
    the bare block_on('postcode') rule (splink_model.json:86-88, our rule
    18) produces quadratic within-key pair counts. The remap is keyed on
    the postcode VALUE (not the row), so rows sharing a postcode — a
    canonical row and its non-postcode-perturbed messy copies — move
    together and blocking semantics stay meaningful (messy rows whose
    perturbation typo'd the postcode keep their typo'd code, as in the
    unskewed corpus).
    Hot postcodes use the reserved 'ZZ9' outward district (no generated
    postcode collides with it: grid outwards end at letter pairs from the
    street encoding, and the messy typo class writes digit 0, never 9).

    Used by the perfbench ``skew_link`` workload and by the salted-blocking
    skew invariance test; deterministic, content-keyed, partition-safe.
    """
    if not 0.0 < hot_share <= 1.0:
        raise ValueError("hot_share must be in (0, 1]")
    h = F.abs(F.xxhash64(F.lit("skew"), F.col("postcode")))
    is_hot = (h % 1_000_000) < int(hot_share * 1_000_000)
    # inward: digit + 2 letters, injective for n_hot <= 9*26*26 = 6084
    if n_hot > 6084:
        raise ValueError("n_hot must be <= 6084 (inward-code injectivity)")
    k = (h % n_hot).cast("long")
    alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    letters = F.array(*[F.lit(c) for c in alpha])
    hot_pc = F.concat(
        F.lit("ZZ9 "),
        ((k % 9) + 1).cast("string"),
        F.element_at(letters, ((k / 9).cast("long") % 26 + 1).cast("int")),
        F.element_at(letters, ((k / 234).cast("long") % 26 + 1).cast("int")),
    )
    return flat.withColumn(
        "postcode", F.when(is_hot, hot_pc).otherwise(F.col("postcode"))
    )


def grid_documents(
    spark: SparkSession,
    n_canonical: int,
    dup_factor: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(canonical_docs, messy_docs, labels) at any scale."""
    canon = grid_canonical_flat(spark, n_canonical)
    messy, labels = messy_from_canonical(canon, dup_factor)
    # AQE coalesces the house-number window's shuffle output to ONE
    # partition (the rows are tiny by bytes), so without this every
    # map-side consumer of a cached corpus — the whole cleaning queue,
    # blocking key generation — runs single-core. Spread to the session's
    # parallelism; content is a pure function of doc_id, so placement
    # doesn't affect any result.
    p = spark.sparkContext.defaultParallelism
    return (
        to_documents(canon).repartition(p),
        to_documents(messy).repartition(p),
        labels.repartition(p),
    )


def domain_token_frequencies(spark: SparkSession) -> DataFrame:
    """Deterministic domain TF table (token, rel_freq).

    The reference ships a 298k-row TF table computed from a much larger
    external corpus (uk_address_matcher/data/address_token_frequencies.parquet,
    loaded at cleaning_pipelines.py:121-129) — absolute rarity, not
    corpus-relative. This is our equivalent: street names are rare
    (1e-6..9e-5, populating the unusual/very-unusual bands the blocking
    rules key on), street kinds and towns are common. Tokens absent here
    default to 5e-5 at attachment (cleaning_steps.py:339).
    """
    import zlib

    rows: list[tuple[str, float]] = []
    for name in _STREET_NAMES:
        for tok in name.split():
            h = zlib.crc32(tok.encode()) % 90
            rows.append((tok, 1e-6 + h * 1e-6))
    for i, kind in enumerate(_STREET_KINDS):
        rows.append((kind, 0.02 + 0.007 * i))
    for i, town in enumerate(_TOWNS):
        for tok in town.split():
            rows.append((tok, 0.004 + 0.002 * (i % 10)))
    for tok in ["FLAT", "UNIT", "APARTMENT", "HOUSE", "COTTAGE", "ANNEXE", "THE"]:
        rows.append((tok, 0.012))
    for tok in ["BASEMENT", "GROUND", "FIRST", "SECOND", "THIRD", "TOP", "FLOOR", "FLOORS", "GARDEN", "AND"]:
        rows.append((tok, 0.008))
    for tok in ["UNITED", "KINGDOM"]:
        rows.append((tok, 0.002))
    # dedupe (multi-word names/towns can repeat a token); keep max freq
    best: dict[str, float] = {}
    for tok, f in rows:
        best[tok] = max(best.get(tok, 0.0), f)
    return spark.createDataFrame(
        sorted(best.items()), "token string, rel_freq double"
    )
