"""Gold core models: dims + fact (SURVEY.md §2.3 J1, §2.4 A1-A3).

The reference's dbt core layer (dbt/spotify_etl_aws/models/core/*.sql):

- ``dim_playlists``: pass-through re-projection (dim_playlists.sql:4-14).
- ``dim_albums`` / ``dim_artists``: row-wise DISTINCT dedup. DuckDB parses
  the reference's ``SELECT DISTINCT(artist_id), artist_name`` as plain
  row-wise ``SELECT DISTINCT artist_id, artist_name`` — NOT a per-column
  distinct (verified 65->39 / 50->26 on checked-in data) — so the Spark
  form is ``select(...).distinct()``.
- ``fact_playlist_tracks``: two INNER equi-joins
  (fact_playlist_tracks.sql:18-20). Inner (not left) is intentional:
  tracks with NULL FKs drop out; preserve for parity.

Scale notes: the dims are tiny relative to the fact — Catalyst
auto-broadcasts them under ``spark.sql.autoBroadcastJoinThreshold`` so
the fact build is shuffle-free on the probe side. At 100 TB the fact
would additionally be written partitioned (see sinks.write_partitioned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dim_playlists(stg_playlists: DataFrame) -> DataFrame:
    return stg_playlists.select(
        "playlist_id",
        "playlist_name",
        "playlist_description",
        "playlist_owner_id",
        "playlist_followers",
        "playlist_public",
    )


def dim_albums(stg_albums: DataFrame) -> DataFrame:
    """dim_albums.sql:3-9 — row-wise DISTINCT over the 4 album columns."""
    return stg_albums.select(
        "album_id", "album_name", "album_release_date", "album_total_tracks"
    ).distinct()


def dim_artists(stg_artists: DataFrame) -> DataFrame:
    """dim_artists.sql:4-10 — drops track_id, then row-wise DISTINCT."""
    return stg_artists.select("artist_id", "artist_name").distinct()


def fact_playlist_tracks(
    stg_tracks: DataFrame, dim_albums_df: DataFrame, dim_artists_df: DataFrame
) -> DataFrame:
    """fact_playlist_tracks.sql:4-20 — stg_tracks ⋈ dim_albums ON album_id
    ⋈ dim_artists ON artist_id, inner, 12-column projection."""
    t = stg_tracks.alias("t")
    al = dim_albums_df.alias("al")
    ar = dim_artists_df.alias("ar")
    return (
        t.join(al, "album_id", "inner")
        .join(ar, "artist_id", "inner")
        .select(
            "t.playlist_id",
            "t.track_id",
            "t.track_name",
            "t.track_number",
            "t.track_duration_ms",
            "t.track_popularity",
            "t.track_explicit",
            "t.album_release_date",
            "al.album_name",
            "album_id",
            "ar.artist_name",
            "artist_id",
        )
    )


def dims(stg: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {
        "dim_playlists": dim_playlists(stg["stg_playlists"]),
        "dim_albums": dim_albums(stg["stg_albums"]),
        "dim_artists": dim_artists(stg["stg_artists"]),
    }


def gold(stg: dict[str, DataFrame]) -> dict[str, DataFrame]:
    d = dims(stg)
    fact = fact_playlist_tracks(stg["stg_tracks"], d["dim_albums"], d["dim_artists"])
    return {**d, "fact_playlist_tracks": fact}
