"""Data-quality module — the Great Expectations surface as first-class
engine operators (SURVEY.md §2.4 A11-A15, §5).

The reference runs two GX suites per pipeline execution: bronze
(``reference: dags/de_spotify_to_bronze.py:230-361``, soft gate — failures
only warn, :357-361) and silver (``reference: dags/de_spotify_silver.py:82-218``,
hard gate — raises on failure, :213-216). GX compiles each expectation to
its own SQL query; here the whole suite is **one batched aggregation
pass** over the table — at 100 TB the difference between one scan and
N scans is the whole game.

Implemented with corrected semantics where the reference is buggy
(SURVEY.md §5): value ranges use value comparisons, not the misapplied
string-length expectation (``reference: dags/de_spotify_to_bronze.py:315-343``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from spotify_tracks_etl_portfolio_spark.functions import num_lit_sql, quote_ident


@dataclass
class ExpectationResult:
    name: str
    success: bool
    observed: object = None
    detail: str = ""


@dataclass
class ValidationReport:
    """GX ValidationResult analogue: structured, serializable, gate-able."""

    suite: str
    results: list[ExpectationResult] = field(default_factory=list)
    #: rows the suite's aggregation pass counted (None before a run)
    row_count: int | None = None

    @property
    def success(self) -> bool:
        return all(r.success for r in self.results)

    def failures(self) -> list[ExpectationResult]:
        return [r for r in self.results if not r.success]

    def raise_on_failure(self) -> None:
        """Hard gate (silver semantics,
        reference: dags/de_spotify_silver.py:213-216)."""
        if not self.success:
            names = ", ".join(r.name for r in self.failures())
            raise DataQualityError(f"suite '{self.suite}' failed: {names}")

    def to_dict(self) -> dict:
        return {
            "suite": self.suite,
            "success": self.success,
            "results": [
                {
                    "name": r.name,
                    "success": r.success,
                    "observed": r.observed,
                    "detail": r.detail,
                }
                for r in self.results
            ],
        }

    def to_markdown(self) -> str:
        """One-page human-readable validation report — the engine's
        analogue of GX's rendered evidence artifact (reference:
        ``images/ss_silver_validation_gx.png``, produced by
        dags/de_spotify_silver.py:82-218). Failures are listed first so
        the page leads with what needs attention."""
        n_pass = sum(1 for r in self.results if r.success)
        status = "PASSED" if self.success else "FAILED"
        lines = [
            f"# Validation report — `{self.suite}`",
            "",
            f"**{status}** — {n_pass}/{len(self.results)} expectations met",
            "",
            "| expectation | status | observed | detail |",
            "|---|---|---|---|",
        ]
        ordered = self.failures() + [r for r in self.results if r.success]
        for r in ordered:
            mark = "✅ pass" if r.success else "❌ FAIL"
            lines.append(
                f"| `{r.name}` | {mark} | {r.observed} | {r.detail} |"
            )
        return "\n".join(lines) + "\n"


class DataQualityError(RuntimeError):
    pass


@dataclass
class Suite:
    """Declarative expectation suite, compiled to ONE aggregation pass.

    Metadata-only expectations (column types) are evaluated against the
    schema without touching data (SURVEY.md §2.4 A14).
    """

    name: str
    not_null: list[str] = field(default_factory=list)
    unique: list[str] = field(default_factory=list)
    compound_unique: list[list[str]] = field(default_factory=list)
    between: dict[str, tuple[float, float]] = field(default_factory=dict)
    min_value: dict[str, float] = field(default_factory=dict)
    column_types: dict[str, str | tuple[str, ...]] = field(default_factory=dict)
    row_count_min: int | None = None
    row_count_equals: int | None = None

    def run(self, df: DataFrame) -> ValidationReport:
        report = ValidationReport(self.name)

        # -- metadata-only checks: no scan (A14) --
        dtypes = dict(df.dtypes)
        for col, expected in self.column_types.items():
            exp = (expected,) if isinstance(expected, str) else tuple(expected)
            ok = col in dtypes and dtypes[col] in exp
            report.results.append(
                ExpectationResult(
                    f"column_type:{col}",
                    ok,
                    dtypes.get(col),
                    f"expected one of {exp}",
                )
            )

        # -- ONE aggregation for every row-level check, built as one
        # selectExpr (one py4j call) over backtick-quoted names and exact
        # numeric literals --
        exprs = ["count(1) AS __row_count"]
        for i, c in enumerate(self.not_null):
            exprs.append(f"sum(CAST({quote_ident(c)} IS NULL AS BIGINT)) AS __nn{i}")
        for i, c in enumerate(self.unique):
            # count == exact distinct count → uniqueness (A12)
            q = quote_ident(c)
            exprs.append(f"count({q}) - count(DISTINCT {q}) AS __du{i}")
        for i, cols in enumerate(self.compound_unique):
            # surplus rows over distinct keys (A11); a struct is never
            # NULL, so keys with NULL parts count like any other key
            key = ", ".join(quote_ident(c) for c in cols)
            exprs.append(f"count(1) - count(DISTINCT struct({key})) AS __cu{i}")
        for i, (c, (lo, hi)) in enumerate(self.between.items()):
            q = quote_ident(c)
            exprs.append(
                f"sum(CAST(NOT ({q} BETWEEN {_bound(lo)} AND {_bound(hi)})"
                f" AND {q} IS NOT NULL AS BIGINT)) AS __rng{i}"
            )
        for i, (c, lo) in enumerate(self.min_value.items()):
            q = quote_ident(c)
            exprs.append(
                f"sum(CAST({q} < {_bound(lo)} AND {q} IS NOT NULL AS BIGINT))"
                f" AS __min{i}"
            )
        row = df.selectExpr(*exprs).first()

        n = report.row_count = row["__row_count"]
        if self.row_count_min is not None:
            report.results.append(
                ExpectationResult(
                    "row_count_min", n >= self.row_count_min, n,
                    f"expected >= {self.row_count_min}",
                )
            )
        if self.row_count_equals is not None:
            report.results.append(
                ExpectationResult(
                    "row_count_equals", n == self.row_count_equals, n,
                    f"expected == {self.row_count_equals}",
                )
            )
        for i, c in enumerate(self.not_null):
            bad = row[f"__nn{i}"] or 0
            report.results.append(
                ExpectationResult(f"not_null:{c}", bad == 0, bad, "null rows")
            )
        for i, c in enumerate(self.unique):
            dup = row[f"__du{i}"]
            report.results.append(
                ExpectationResult(f"unique:{c}", dup == 0, dup, "duplicate rows")
            )
        for i, (c, rng) in enumerate(self.between.items()):
            bad = row[f"__rng{i}"] or 0
            report.results.append(
                ExpectationResult(
                    f"between:{c}", bad == 0, bad, f"rows outside {rng}",
                )
            )
        for i, (c, lo) in enumerate(self.min_value.items()):
            bad = row[f"__min{i}"] or 0
            report.results.append(
                ExpectationResult(
                    f"min_value:{c}", bad == 0, bad, f"rows below {lo}",
                )
            )
        for i, cols in enumerate(self.compound_unique):
            dups = row[f"__cu{i}"]
            report.results.append(
                ExpectationResult(
                    f"compound_unique:{','.join(cols)}", dups == 0, dups,
                    "duplicate rows",
                )
            )
        return report


def _bound(v) -> str:
    lit = num_lit_sql(v)
    if lit is None:
        raise TypeError(f"expectation bound must be an int or finite float, got {v!r}")
    return lit


def spotify_silver_suite() -> Suite:
    """The reference's silver GX suite
    (reference: dags/de_spotify_silver.py:116-203), corrected semantics."""
    return Suite(
        name="suite_sql_spotify_tracks_silver",
        unique=["track_id"],
        not_null=[
            "track_id", "artists", "album_name", "track_name", "popularity",
            "duration_ms", "explicit", "danceability", "energy", "key",
            "loudness", "mode", "speechiness", "acousticness",
            "instrumentalness", "liveness", "valence", "tempo",
            "time_signature", "track_genre",
        ],
        between={
            "popularity": (0, 100),
            "danceability": (0.0, 1.0),
            "energy": (0.0, 1.0),
            "acousticness": (0.0, 1.0),
            "instrumentalness": (0.0, 1.0),
            "liveness": (0.0, 1.0),
            "valence": (0.0, 1.0),
            "loudness": (-60.0, 0.0),
        },
        min_value={"tempo": 0.0},
        column_types={
            "popularity": ("int", "bigint"),
            "duration_ms": ("int", "bigint"),
            "danceability": "double",
            "energy": "double",
            "loudness": "double",
            "speechiness": "double",
            "acousticness": "double",
            "instrumentalness": "double",
            "liveness": "double",
            "valence": "double",
            "tempo": "double",
        },
        row_count_min=1,
    )


def events_silver_suite() -> Suite:
    """The same expectation families mapped onto the events analogue."""
    return Suite(
        name="suite_events_silver",
        unique=["event_id"],
        compound_unique=[["event_id", "ts"]],
        not_null=["event_id", "ts", "user_id", "event_type", "value"],
        between={"value": (0.0, 450.0)},
        column_types={"event_id": "bigint", "value": "double"},
        row_count_min=1,
    )
