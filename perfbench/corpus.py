"""Seeded studies corpus for the serving benchmark, plus its known answers.

Records are numbered ``i = 0 .. n-1``; record ``i`` is served as
``rec_{i:08d}``, so keyset order is numeric order. Every attribute is a
function of ``value = i * 2**31 + h(i, seed)``, which the package's own
Column-only generator (``streaming.synthetic_source.events_from_rate``)
turns into a harvest event: publisher from ``value % 2``, title language
from ``value % 3``, a delete every ``value % 10 == 9``. The benchmark then
fills the fields the three formats project (multilingual titles and
abstracts, keywords, publishers, a mix of DOI and non-DOI identifiers).

``Expected`` recomputes the same attributes in plain Python, so the load
generator checks the server's answers without asking the server.
"""

from __future__ import annotations

from dataclasses import dataclass

HASH_MOD = 2_147_483_647          # a prime; h(i) = (i*A + seed*B + C) mod HASH_MOD
HASH_A, HASH_B, HASH_C = 2_654_435_761, 97_531, 12_345
VALUE_SHIFT = 2 ** 31
BASE_TS = "2024-01-01 00:00:00"   # record i is harvested BASE_TS + i seconds
PAGE_SIZE = 100                   # records per ListRecords page the server serves
LANGS = ("en", "fi", "sv")        # events_from_rate's title language, value % 3
EXTRA_LANGS = ("en", "fi", "sv", "de")
# identifier agency by (h // 16) % 8: two URN, two local (not an OpenAIRE
# type, so oai_datacite drops them), four DOI
AGENCIES = ("URN", "URN", "local", "local", "DOI", "DOI", "DOI", "DOI")
# restated, not imported: the checks must not take their answers from the program
OPENAIRE = frozenset({"DOI", "ARK", "Handle", "PURL", "URN", "URL"})
TITLE_CHARS, ABSTRACT_CHARS = 40, 320
WORDS = ("survey", "panel", "election", "health", "labour", "youth", "media",
         "climate", "income", "housing", "migration", "education", "trust",
         "welfare", "ageing", "family", "religion", "values", "regional",
         "attitudes", "longitudinal", "household", "employment", "voting",
         "wellbeing", "mobility", "culture", "inequality", "network", "time")
TEXT = " ".join(WORDS[(k * 7 + k // len(WORDS)) % len(WORDS)] for k in range(600))


def ident(i: int) -> str:
    return f"rec_{i:08d}"


def key_hash(i: int, seed: int) -> int:
    return (i * HASH_A + seed * HASH_B + HASH_C) % HASH_MOD


@dataclass(frozen=True)
class Record:
    i: int
    fsd: bool
    deleted: bool
    langs: tuple[str, ...]
    openaire: bool


def record(i: int, seed: int) -> Record:
    h = key_hash(i, seed)
    v = i * VALUE_SHIFT + h
    langs = (LANGS[v % 3],)
    if h % 4 == 0 and EXTRA_LANGS[(h // 4) % 4] != langs[0]:
        langs += (EXTRA_LANGS[(h // 4) % 4],)
    return Record(i=i, fsd=v % 2 == 0, deleted=v % 10 == 9, langs=langs,
                  openaire=AGENCIES[(h // 16) % 8] in OPENAIRE)


class Expected:
    """Known answers for a corpus of ``n`` records made with ``seed``."""

    def __init__(self, n: int, seed: int):
        self.n = n
        self.seed = seed
        self.records = [record(i, seed) for i in range(n)]
        self.deleted = sum(r.deleted for r in self.records)
        self.fsd = sum(r.fsd for r in self.records)
        self.fsd_live = sum(r.fsd and not r.deleted for r in self.records)
        self.langs = sorted({g for r in self.records for g in r.langs})

    def walk(self, prefix: str, set_spec: str | None) -> list[int]:
        """Record numbers a ListRecords walk must yield, in keyset order."""
        def keep(r: Record) -> bool:
            if prefix == "oai_datacite" and not r.openaire:
                return False
            if set_spec is None:
                return True
            key, _, value = set_spec.partition(":")
            if key == "source":
                return r.fsd == (value == "FSD")
            if key == "language":
                return value in r.langs
            raise ValueError(set_spec)
        return [r.i for r in self.records if keep(r)]

    def get_record_ok(self, i: int, prefix: str) -> bool:
        """GetRecord answers a record (else idDoesNotExist): it exists and,
        for oai_datacite, is deleted or carries an OpenAIRE identifier."""
        if not 0 <= i < self.n:
            return False
        r = self.records[i]
        return prefix != "oai_datacite" or r.deleted or r.openaire

    def gauges(self) -> dict[str, float]:
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import (
            FSD_URL, GESIS_URL,
        )
        return {
            "records_total": float(self.n),
            "records_total_without_deleted": float(self.n - self.deleted),
            "publishers_total": 2.0,
            f'publishers_counts{{publisher="{FSD_URL}"}}': float(self.fsd),
            f'publishers_counts{{publisher="{GESIS_URL}"}}': float(self.n - self.fsd),
            f'publishers_counts_without_deleted{{publisher="{FSD_URL}"}}':
                float(self.fsd_live),
            f'publishers_counts_without_deleted{{publisher="{GESIS_URL}"}}':
                float(self.n - self.deleted - self.fsd_live),
        }

    def set_specs(self) -> list[str]:
        return (["language", "source", "openaire_data"]
                + [f"language:{g}" for g in self.langs]
                + ["source:FSD", "source:GESIS"])


def source_defs() -> list[dict]:
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import (
        FSD_URL, GESIS_URL,
    )
    return [{"url": FSD_URL, "source": "FSD", "setname": "FSD"},
            {"url": GESIS_URL, "source": "GESIS", "setname": "GESIS"}]


def _text(h, salt: int, chars: int):
    """A ``chars``-long window of the fixed word text, placed by the hash."""
    from pyspark.sql import functions as F
    start = F.pmod(h * (2 * salt + 1) + salt, F.lit(len(TEXT) - chars)) + 1
    return F.substring(F.lit(TEXT), start.cast("int"), chars)


def studies_df(spark, n: int, seed: int, first: int = 0):
    """Records ``first .. first+n-1`` as studies-schema rows, harvest events
    made by the package's ``events_from_rate``, then enriched."""
    from pyspark.sql import functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import STUDY_DDL
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.synthetic_source import (
        events_from_rate,
    )

    i = F.col("id")
    rate_like = spark.range(first, first + n).select(
        (F.lit(BASE_TS).cast("timestamp")
         + F.make_interval(secs=i.cast("double"))).alias("timestamp"),
        (i * VALUE_SHIFT + F.pmod(i * HASH_A + seed * HASH_B + HASH_C,
                                  F.lit(HASH_MOD))).alias("value"))
    return enrich(events_from_rate(rate_like)).select(*[c for c, _ in STUDY_DDL])


def enrich(events):
    """Fill the projected fields of ``events_from_rate`` output in one
    projection; keys and attributes derive from the event's
    ``study_number`` (= ``num_<value>``)."""
    from pyspark.sql import functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import (
        studies_schema,
    )

    schema = studies_schema()
    v = F.col("study_number").substr(5, 30).cast("long")
    i = F.floor(v / VALUE_SHIFT).cast("long")
    h = F.pmod(v, F.lit(VALUE_SHIFT))
    lang1 = F.element_at(F.array(*[F.lit(x) for x in LANGS]),
                         (F.pmod(v, F.lit(3)) + 1).cast("int"))
    lang2 = F.element_at(F.array(*[F.lit(x) for x in EXTRA_LANGS]),
                         (F.pmod(F.floor(h / 4), F.lit(4)) + 1).cast("int"))
    two = (F.pmod(h, F.lit(4)) == 0) & (lang2 != lang1)
    key = F.concat(F.lit("rec_"), F.lpad(i.cast("string"), 8, "0"))
    agency = F.element_at(F.array(*[F.lit(x) for x in AGENCIES]),
                          (F.pmod(F.floor(h / 16), F.lit(8)) + 1).cast("int"))
    fsd = F.pmod(v, F.lit(2)) == 0
    is_delete = F.col("action") == "delete"
    none = F.lit(None).cast("string")

    def pair(first, second):
        return F.when(two, F.array(first, second)).otherwise(F.array(first))

    def vl(value, lang=F.lit("en")):
        return F.struct(value.alias("value"), lang.alias("language"))

    filled = {
        "aggregator_identifier": key,
        "metadata": F.struct(
            F.when(is_delete, "deleted").otherwise("created").alias("status"),
            F.col("harvest_ts").alias("created"),
            F.col("harvest_ts").alias("updated"),
            F.when(is_delete, F.col("harvest_ts")).alias("deleted")),
        "direct_base_url": F.col("provenance")[0]["base_url"],
        "identifiers": F.array(F.struct(
            F.when(agency == "DOI", F.concat(F.lit("10.5000/"), key))
            .when(agency == "URN", F.concat(F.lit("urn:nbn:fi:"), key))
            .otherwise(key).alias("value"),
            F.lit("en").alias("language"), agency.alias("agency"))),
        "study_titles": pair(vl(_text(h, 1, TITLE_CHARS), lang1),
                             vl(_text(h, 2, TITLE_CHARS), lang2)),
        "abstracts": pair(vl(_text(h, 3, ABSTRACT_CHARS), lang1),
                          vl(_text(h, 4, ABSTRACT_CHARS), lang2)),
        "keywords": F.array(*[
            F.struct(_text(h, 10 + k, 12).alias("value"), lang1.alias("language"),
                     F.lit("CESSDA Topic Classification").alias("system_name"),
                     none.alias("uri"), none.alias("description"))
            for k in range(3)]),
        "publishers": F.array(vl(
            F.when(fsd, "Finnish Social Science Data Archive").otherwise("GESIS"))),
        "principal_investigators": F.array(F.struct(
            F.concat(F.lit("Investigator "), F.pmod(h, F.lit(997)).cast("string"))
            .alias("value"), F.lit("en").alias("language"),
            F.lit("University").alias("organization"))),
        "publication_years": F.array(F.struct(
            (F.pmod(h, F.lit(34)) + 1990).cast("string").alias("value"),
            F.lit("en").alias("language"), none.alias("distribution_date"))),
        "study_area_countries": F.array(
            vl(F.when(fsd, "Finland").otherwise("Germany"))),
        "data_access": F.array(vl(F.lit("Open"))),
    }
    return events.select(*[
        filled[c].cast(schema[c].dataType).alias(c) if c in filled else F.col(c)
        for c in events.columns])


def batch_keys(n: int, seed: int, b: int, cfg: dict) -> tuple[int, int, int]:
    """Microbatch ``b`` works on one key window: ``updates`` keys from
    ``start``, then ``deletes`` keys, then ``new`` keys sorting inside the
    window (so the batch's key range stays narrow)."""
    width = cfg["updates"] + cfg["deletes"]
    return key_hash(b, seed + 1) % (n - width), cfg["updates"], cfg["deletes"]


def batch_df(spark, n: int, seed: int, b: int, cfg: dict):
    """Harvest events of microbatch ``b`` (studies schema + action +
    harvest_ts), made with ``events_from_rate`` like the corpus."""
    from pyspark.sql import functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.synthetic_source import (
        events_from_rate,
    )

    start, updates, deletes = batch_keys(n, seed, b, cfg)
    ts = (F.lit(BASE_TS).cast("timestamp")
          + F.make_interval(secs=F.lit(float(10_000_000 + b))))

    def events(first, count, value, action):
        rate = spark.range(first, first + count).select(
            ts.alias("timestamp"), value.alias("value"))
        return enrich(events_from_rate(rate)).withColumn("action", F.lit(action))

    i = F.col("id")
    changed = i * VALUE_SHIFT + F.pmod(i * HASH_A + (seed + 1 + b) * HASH_B,
                                       F.lit(HASH_MOD))
    upd = events(start, updates, changed, "upsert")
    dele = events(start + updates, deletes, changed, "delete")
    fresh_h = F.pmod((i + 1000 * b) * HASH_A + (seed + 7) * HASH_B, F.lit(HASH_MOD))
    new = events(0, cfg["new"], F.lit(start * VALUE_SHIFT) + fresh_h, "upsert")
    new = new.withColumn("aggregator_identifier", F.concat(
        F.col("aggregator_identifier"), F.lit("_"), F.col("study_number")))
    return upd.unionByName(dele).unionByName(new)


def after_batches(n: int, seed: int, batches: int, cfg: dict) -> tuple[int, int]:
    """(rows, deleted rows) of the table after merging ``batches`` batches."""
    deleted = {i for i in range(n) if record(i, seed).deleted}
    for b in range(batches):
        start, updates, deletes = batch_keys(n, seed, b, cfg)
        deleted -= set(range(start, start + updates))
        deleted |= set(range(start + updates, start + updates + deletes))
    return n + cfg["new"] * batches, len(deleted)
