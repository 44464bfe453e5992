from osmgraft.geo.cells import GridSpec, cell_col, kring_cells_col, morton_col
from osmgraft.geo.geometry import (
    inv_mercator_cols,
    mercator_cols,
    mercator_np,
    mercator_sql,
    planar_length_col,
    polygon_wkb,
    point_wkb,
)
from osmgraft.geo.pip import STRtree, pip_join
from osmgraft.geo.knn import knn_join
from osmgraft.geo import hexgrid, s2

__all__ = [
    "GridSpec",
    "cell_col",
    "kring_cells_col",
    "morton_col",
    "planar_length_col",
    "polygon_wkb",
    "point_wkb",
    "STRtree",
    "pip_join",
    "knn_join",
]
