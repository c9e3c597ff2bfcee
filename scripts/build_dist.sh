#!/usr/bin/env bash
# Build dist/stac_to_geocore_spark.zip (the spark-submit --py-files
# artifact) from the package tree. submit.sh runs this before every submit;
# the zip is a build output and is not committed (dist/ is git-ignored).
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/stac_to_geocore_spark.zip
zip -qr dist/stac_to_geocore_spark.zip stac_to_geocore_spark -x '*__pycache__*' -x '*.pyc'
echo "built dist/stac_to_geocore_spark.zip ($(unzip -l dist/stac_to_geocore_spark.zip | tail -1))"
