"""The benchmark workloads and their output checks.

Each workload opens its inputs (part of set-up) and runs one iteration
as one operation. Timed iterations end in a noop sink; the cold
iteration collects instead, and its rows are checked, untimed, against
an independent DuckDB expectation over the same seeded sf directory.
"""

from __future__ import annotations

import duckdb


def noop(df) -> None:
    # noop sink, never count(): count() lets Catalyst prune the work being measured
    df.write.format("noop").mode("overwrite").save()


def collect(df) -> list:
    return df.collect()


def diff(got, want) -> int:
    """Rows in one multiset and not the other (0 = identical), every value compared as a string."""
    from collections import Counter

    def bag(rows):
        return Counter(tuple(None if v is None else str(v) for v in r) for r in rows)

    g, w = bag(got), bag(want)
    return sum(((g - w) + (w - g)).values())


class Oracle:
    """DuckDB over the seeded sf directory: the expectation every check compares to."""

    def __init__(self, sf_dir: str):
        from osm_admin_boundary_conflation_spark import datagen

        self._datagen = datagen
        self.con = duckdb.connect()
        for t in ("documents", "orders", "nation", "boundaries"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def geotag(self) -> list[tuple]:
        """(url, level9_id, verdict): half-open rectangle containment, counted per page."""
        return self.rows(
            f"""WITH {self._datagen.PAGES_CTE}
            SELECT g.url,
                   CASE WHEN count(b.level9_id) = 1 THEN min(b.level9_id) END,
                   CASE count(b.level9_id) WHEN 0 THEN 'NO_MATCH' WHEN 1 THEN 'MATCHED'
                        ELSE 'MULTIPLE_MATCH' END
            FROM pages_geo g LEFT JOIN boundaries b
              ON g.lon >= b.min_lon AND g.lon < b.max_lon AND g.lat >= b.min_lat AND g.lat < b.max_lat
            GROUP BY g.url"""
        )

    def text_md5(self) -> list[tuple]:
        d = self._datagen
        return self.rows(f"WITH {d.PAGES_CTE} SELECT url, md5({d.EXTRACTED_TEXT_SQL}) FROM pages_geo")

    def query(self, name: str) -> list[tuple]:
        from osm_admin_boundary_conflation_spark.queries import oracle_sql

        return self.rows(oracle_sql()[name])


def conflate_world(world):
    from osm_admin_boundary_conflation_spark.operators.conflation import conflate

    return conflate(
        world["src_ways"], world["src_rels"], world["osm_ways"], world["osm_node_tags"], world["osm_rels"]
    )


def text_md5_diff(pages, oracle) -> int:
    """An untimed extra action: md5 of the text the engine extracts from each page's html."""
    import pyspark.sql.functions as F
    from osm_admin_boundary_conflation_spark.operators.spatial_join import extract_pages_geo

    md5 = extract_pages_geo(pages, 6).select("url", F.md5(F.encode("text", "UTF-8")))
    return diff(md5.collect(), oracle.text_md5())


CONFLATE_COLS = ["way_id", "n_rels", "verdict", "osm_way_id", "error_context"]
SEGMENT_COLS = ["fp", "parents", "n_parents", "admin_level"]
GEOTAG_COLS = ["url", "level9_id", "verdict"]


def pick(rows, cols) -> list[tuple]:
    return [tuple(r[c] for c in cols) for r in rows]


class GeotagPages:
    """Pages x boundaries geotagging: scan → geotag_pages (broadcast) → sink."""

    name = "geotag_pages"

    def open(self, spark, sf_dir):
        from osm_admin_boundary_conflation_spark import datagen

        return {
            "pages": datagen.build_pages(spark, sf_dir),
            "bounds": spark.read.parquet(f"{sf_dir}/boundaries.parquet"),
        }

    def input_rows(self, props) -> int:
        return props["pages"]

    def iterate(self, inp, tracer, sink=noop) -> list:
        from osm_admin_boundary_conflation_spark.operators.spatial_join import geotag_pages

        with tracer.span("spatial_join.geotag_pages"):
            return [sink(geotag_pages(inp["pages"], inp["bounds"]))]

    def check(self, inp, outputs, oracle) -> int:
        """Verdict per url from the iteration, and md5 of the extracted text per url."""
        return diff(pick(outputs[0], GEOTAG_COLS), oracle.geotag()) + text_md5_diff(inp["pages"], oracle)


class BoundaryPipeline:
    """OSM conflation: conflate → sink, over the world the engine builds from the seed's orders."""

    name = "boundary_pipeline"

    def open(self, spark, sf_dir):
        from osm_admin_boundary_conflation_spark import datagen_osm

        # scans of the world that run.materialize_worlds wrote in the boot session
        return {"world": datagen_osm.build_osm_world(spark, sf_dir)}

    def input_rows(self, props) -> int:
        return props["ways"]

    def iterate(self, inp, tracer, sink=noop) -> list:
        with tracer.span("conflation.conflate"):
            return [sink(conflate_world(inp["world"]))]

    def check(self, inp, outputs, oracle) -> int:
        return diff(pick(outputs[0], CONFLATE_COLS), oracle.query("conflate_verdicts"))


WORKLOADS = {w.name: w for w in (GeotagPages, BoundaryPipeline)}
