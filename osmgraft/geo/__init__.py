from osmgraft.geo.cells import GridSpec, cell_sql, kring_cells_sql, morton_sql, with_cell
from osmgraft.geo.geometry import (
    inv_mercator_np,
    inv_mercator_sql,
    mercator_np,
    mercator_sql,
    polygon_wkb,
    point_wkb,
)
from osmgraft.geo.pip import STRtree, pip_join
from osmgraft.geo.knn import knn_join
from osmgraft.geo import hexgrid, s2

__all__ = [
    "GridSpec",
    "cell_sql",
    "kring_cells_sql",
    "morton_sql",
    "with_cell",
    "inv_mercator_np",
    "inv_mercator_sql",
    "mercator_np",
    "mercator_sql",
    "polygon_wkb",
    "point_wkb",
    "STRtree",
    "pip_join",
    "knn_join",
    "hexgrid",
    "s2",
]
