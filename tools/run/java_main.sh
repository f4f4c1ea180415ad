#!/bin/bash
# Run a graft main outside sbt against the current build's classes
# (java_main_cp.sh with its default classes dir).
# Usage: java_main.sh <MainClass> [args...]   (env: SPARK_GRAFT_SF_DIR etc.)
exec "$(dirname "$0")/java_main_cp.sh" "$@"
