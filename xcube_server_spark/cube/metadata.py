"""Catalogue/metadata queries (SURVEY.md §2.1 S10, §3.3; M4).

Reference: ``get_datasets(details=…)`` / variable + coordinate dumps
(``xcube_server/controllers/catalogue.py:13-111``), WMTS capabilities
(``xcube_server/controllers/wmts.py:12-287``). These are metadata reads: the
expensive part in the reference is forcing dataset opens; in our engine the
catalog already holds everything, coordinate dumps included: no Spark job.
"""

from __future__ import annotations

from typing import Any

from .catalog import CubeCatalog
from .grid import level_sizes


def get_datasets(catalog: CubeCatalog, details: bool = False) -> dict[str, Any]:
    """Dataset listing (+ per-variable metadata when ``details``), shaped
    after ``xcube_server/controllers/catalogue.py:13-94``."""
    out = []
    for meta in catalog.datasets.values():
        entry: dict[str, Any] = {
            "id": meta.identifier,
            "title": meta.title,
            "bbox": list(meta.grid.extent),
        }
        if details:
            sizes = level_sizes(
                meta.grid.width, meta.grid.height, meta.tile_grid.num_levels
            )
            entry["variables"] = [
                {
                    "id": v,
                    "name": v,
                    "dims": ["time", "lat", "lon"],
                    "shape": [len(catalog.times(meta.identifier)), meta.grid.height, meta.grid.width],
                    "dtype": "float32",
                    "colorBarName": (
                        meta.styles[v].color_bar if v in meta.styles else "viridis"
                    ),
                    "colorBarMin": (
                        meta.styles[v].value_range[0] if v in meta.styles else 0.0
                    ),
                    "colorBarMax": (
                        meta.styles[v].value_range[1] if v in meta.styles else 1.0
                    ),
                }
                for v in meta.variables
            ]
            entry["levels"] = [{"level": i, "width": w, "height": h}
                               for i, (w, h) in enumerate(sizes)]
            entry["tileGrid"] = get_tile_grid(catalog, meta.identifier)
            # full coordinate dumps per dimension, like the reference's
            # dataset_dict (controllers/catalogue.py:87-88)
            entry["dimensions"] = [
                get_coordinates(catalog, meta.identifier, d)
                for d in ("time", "lat", "lon")
            ]
            if meta.place_group_refs:
                # dataset-level PlaceGroups association (config.yml
                # PlaceGroupRef entries)
                entry["placeGroups"] = list(meta.place_group_refs)
            if meta.property_mapping:
                entry["propertyMapping"] = dict(meta.property_mapping)
        out.append(entry)
    return {"datasets": out}


def get_coordinates(catalog: CubeCatalog, ds_id: str, dim: str) -> dict[str, Any]:
    """Coordinate dump ``{name, size, dtype, coordinates[]}``
    (``xcube_server/controllers/catalogue.py:97-111``) from the catalog's
    metadata, which the ingest also writes the dim tables from."""
    grid = catalog.datasets[ds_id].grid
    if dim == "time":
        dtype = "datetime64[ns]"
        vals = [t.replace(" ", "T") + "Z" for t in catalog.times(ds_id)]
    else:
        dtype = "float64"
        n, coord_of = {
            "lat": (grid.height, grid.lat_of), "lon": (grid.width, grid.lon_of)
        }[dim]
        vals = [coord_of(i) for i in range(n)]
    return {"name": dim, "size": len(vals), "dtype": dtype, "coordinates": vals}


def ol4_tile_source(
    url: str,
    extent: tuple[float, float, float, float],
    num_levels: int,
    num_level_zero_tiles_x: int,
    tile_width: int,
    tile_height: int,
) -> dict[str, Any]:
    """OpenLayers 4 XYZ tile-source options for a pyramid whose level-zero
    tiles span ``extent`` (``xcube_server/controllers/tiles.py:226-251``)."""
    west, south, east, north = extent
    res0 = (east - west) / (num_level_zero_tiles_x * tile_width)
    return {
        "url": url,
        "projection": "EPSG:4326",
        "minZoom": 0,
        "maxZoom": num_levels - 1,
        "tileGrid": {
            "extent": [west, south, east, north],
            "origin": [west, north],
            "resolutions": [res0 / (1 << z) for z in range(num_levels)],
            "tileSize": [tile_width, tile_height],
        },
    }


def get_tile_grid(
    catalog: CubeCatalog, ds_id: str, client: str | None = None,
    base_url: str = "", var: str = "",
) -> dict[str, Any]:
    """Tile-grid JSON; ``client='ol4'``/``'cesium'`` emit the client-specific
    tile-source shapes of the reference (X4,
    ``xcube_server/controllers/tiles.py:226-284``)."""
    meta = catalog.datasets[ds_id]
    tg = meta.tile_grid
    west, south, east, north = tg.geo_extent
    url = (
        f"{base_url}/datasets/{ds_id}/vars/{var or '{var}'}"
        "/tiles/{z}/{x}/{y}.png"
    )
    if client == "ol4":
        return ol4_tile_source(
            url, tg.geo_extent, tg.num_levels, tg.num_level_zero_tiles_x,
            tg.tile_width, tg.tile_height,
        )
    if client == "cesium":
        return {
            "url": url,
            "rectangle": {"west": west, "south": south, "east": east, "north": north},
            "minimumLevel": 0,
            "maximumLevel": tg.num_levels - 1,
            "tileWidth": tg.tile_width,
            "tileHeight": tg.tile_height,
            "tilingScheme": {
                "numberOfLevelZeroTilesX": tg.num_level_zero_tiles_x,
                "numberOfLevelZeroTilesY": tg.num_level_zero_tiles_y,
            },
        }
    return {
        "numLevels": tg.num_levels,
        "tileSize": [tg.tile_width, tg.tile_height],
        "numLevelZeroTiles": [
            tg.num_level_zero_tiles_x,
            tg.num_level_zero_tiles_y,
        ],
        "extent": list(tg.geo_extent),
        "invY": tg.inv_y,
    }


def get_dataset(
    catalog: CubeCatalog, ds_id: str, client: str | None = None, base_url: str = ""
) -> dict[str, Any]:
    """Single-dataset detail (``xcube_server/controllers/catalogue.py:45-94``):
    id/title/bbox + per-variable dims/shape/dtype, and with ``client`` the
    per-variable tile-source options (X4)."""
    if ds_id not in catalog.datasets:
        raise KeyError(ds_id)
    meta = catalog.datasets[ds_id]
    out: dict[str, Any] = {
        "id": meta.identifier,
        "title": meta.title,
        "bbox": list(meta.grid.extent),
    }
    variables = []
    for v in meta.variables:
        var_dict: dict[str, Any] = {
            "id": f"{meta.identifier}.{v}",
            "name": v,
            "dims": ["time", "lat", "lon"],
            "shape": [len(catalog.times(meta.identifier)), meta.grid.height, meta.grid.width],
            "dtype": "float32",
            "units": "",
            "title": v,
        }
        if client is not None:
            var_dict["tileSourceOptions"] = get_tile_grid(
                catalog, ds_id, client=client, base_url=base_url, var=v
            )
        variables.append(var_dict)
    out["variables"] = variables
    return out


def get_time_series_info(catalog: CubeCatalog) -> dict[str, Any]:
    """TS layer inventory (``controllers/time_series.py:35-53``): one layer
    per (dataset, variable) with ISO dates and the dataset bounds."""
    layers = []
    for meta in catalog.datasets.values():
        dates = [
            t.replace(" ", "T") + "Z" for t in catalog.times(meta.identifier)
        ]
        xmin, ymin, xmax, ymax = meta.grid.extent
        bounds = {"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax}
        for v in meta.variables:
            layers.append(
                {
                    "name": f"{meta.identifier}.{v}",
                    "dates": dates,
                    "bounds": bounds,
                }
            )
    return {"layers": layers}


def colorbars_html() -> str:
    """HTML color-bar listing (``GetColorBarsHtmlHandler``,
    ``xcube_server/im/cmaps.py`` emits base64 PNG swatches in a table)."""
    import html

    from ..functions.colormap import list_cmaps

    rows = []
    for group, desc, entries in list_cmaps():
        rows.append(
            f"<tr><th colspan='2'>{html.escape(group)} — {html.escape(desc)}</th></tr>"
        )
        for name, swatch in entries:
            rows.append(
                f"<tr><td>{html.escape(name)}</td>"
                f"<td><img src='data:image/png;base64,{swatch}' "
                "width='200' height='12'/></td></tr>"
            )
    return (
        "<!DOCTYPE html><html><head><title>Color Bars</title></head>"
        "<body><table>" + "".join(rows) + "</table></body></html>"
    )
