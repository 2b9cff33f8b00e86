#!/bin/sh
# fanout mapper, shipped with -file: category and text length per line.
exec awk -F'\t' '{print $2 "\t" length($4)}'
