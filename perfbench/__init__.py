"""Wire-level serving benchmark for timefusion_spark (see README.md)."""
