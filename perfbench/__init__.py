"""Seeded end-to-end benchmark of the SSTable -> protobuf `convert` job."""
