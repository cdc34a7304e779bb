"""End-to-end HTTP benchmark of the qcache server (see README.md)."""
