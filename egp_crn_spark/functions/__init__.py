"""Column-function library. Cell backends live behind the cells.py seam."""
