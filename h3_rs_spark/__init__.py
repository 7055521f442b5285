"""PySpark-native H3 spatial-join + tiling engine (see README.md)."""
