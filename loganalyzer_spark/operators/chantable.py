"""M4 — channel-status-table reformatting (extensions/cm/preprocess.py:
192-402): DS/US channel tables become one synthetic log line per data
row, with column-repair heuristics for rows broken by interleaved
thread output.

Pure column expressions over the M3 block flags — no UDF:

  * table segmentation: the same last(marker) window machinery as
    ``blocks`` (start regex opens, end regex closes, non-stacking);
  * header handling: rows before the common title line are dropped,
    the title itself is dropped (format_chan_stat_table,
    extensions/cm/preprocess.py:196-214);
  * non-nested lines inside a table come from another thread and pass
    through untouched (preprocess.py:199-205);
  * data rows: split(trim(content), '\\s+', N) mirrors Python's
    ``line.split(None, N-1)`` — then ``when`` repairs on the trailing
    modulation column (preprocess.py:244-267: a column glued to other
    thread output is restored from its leading chars, else the row is
    unrecoverable and dropped) and ``format_string`` emits the cooked
    line (ds_chan_log, preprocess.py:277-296).

The DS and US layouts share the segmentation and keep/drop rule
(``_reformat_table``); each keeps only its own token map and cooked
line (ds_chan_log and us_chan_log_scqam, preprocess.py:277-296,
385-402).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from loganalyzer_spark.operators.blocks import _state_prev

DS_MODS = ("Qam64", "Qam256", "OFDM PLC", "Unknown")


def _ds_repair_mod(tok: Column) -> Column:
    """preprocess.py:252-267 — restore a glued modulation column; NULL
    means unrecoverable (row dropped)."""
    return (
        F.when(tok.isin(*DS_MODS), tok)
        .when(F.substring(tok, 4, 1) == "6", F.lit("Qam64"))
        .when(F.substring(tok, 4, 1) == "2", F.lit("Qam256"))
        .when(F.substring(tok, 1, 1) == "O", F.lit("OFDM PLC"))
        .when(F.substring(tok, 1, 1) == "U", F.lit("Unknown"))
        .otherwise(F.lit(None))
    )


def _reformat_table(
    lines: DataFrame,
    start_pat: str,
    title_pat: str,
    end_pat: str,
    cook: Callable[[Column], Column],
) -> DataFrame:
    """The segmentation and keep/drop rule both table layouts share.

    ``cook(content)`` turns a data row into its cooked line, NULL when
    the row is broken beyond repair. Every non-table row is kept
    untouched; table rows are dropped (start/header/title/broken) or
    replaced by the cooked line.
    """
    c = F.col("content")
    is_start = c.rlike(start_pat)
    is_end = c.rlike(end_pat)
    nested = c.rlike("^[ \t]")
    empty = c.rlike("^[ \t]*$")

    df = lines.withColumn(
        "_in_tbl", _state_prev(F.when(is_start, 1).when(is_end, 0)) == 1
    ).withColumn(
        # the header is done once the common title line has passed
        # inside the current table; a new start resets it
        "_hdr_done",
        _state_prev(F.when(is_start, 0).when(c.rlike(title_pat), 1)) == 1,
    )

    in_tbl = F.col("_in_tbl") & ~is_end
    keep_other_thread = in_tbl & ~nested & ~empty & ~is_start
    is_data = in_tbl & F.col("_hdr_done") & nested & ~empty
    return (
        df.withColumn(
            "_out",
            F.when(~in_tbl & ~is_start, c)  # outside (incl. end line)
            .when(keep_other_thread, c)  # messed by other thread: keep
            .when(is_data, cook(c)),  # start/header/title/broken: NULL
        )
        .filter(F.col("_out").isNotNull())
        .withColumn("content", F.col("_out"))
        .drop("_out", "_in_tbl", "_hdr_done")
    )


def reformat_ds_chan_table(
    lines: DataFrame,
    start_pat: str,
    title_pat: str,
    end_pat: str,
) -> DataFrame:
    """DS channel table → 'DS channel status rxid … mod …' lines."""

    def cook(c: Column) -> Column:
        toks = F.split(F.trim(c), "\\s+", 8)
        mod = _ds_repair_mod(F.element_at(toks, 8))
        cooked = F.format_string(
            "DS channel status rxid %s dcid %s freq %s qam %s fec %s snr %s"
            " power %s mod %s",
            F.element_at(toks, 1),
            F.element_at(toks, 2),
            F.element_at(toks, 3),
            F.element_at(toks, 4),
            F.element_at(toks, 5),
            F.element_at(toks, 6),
            F.element_at(toks, 7),
            # OFDM PLC keeps QAM template arity (preprocess.py:269-272)
            F.regexp_replace(mod, " ", "_"),
        )
        return F.when((F.size(toks) >= 8) & mod.isNotNull(), cooked)

    return _reformat_table(lines, start_pat, title_pat, end_pat, cook)


# ---------------------------------------------------------------------------
# US channel table (preprocess.py:298-402): SC-QAM vs OFDMA layouts +
# legacy-table (openbfc <= 17.4) trailing-column repair
# ---------------------------------------------------------------------------


def _legacy_repair(last: Column) -> Column:
    """format_legacy_table (preprocess.py:344-355): old tables carry
    extra trailing columns; the tx-data flag is the second sub-token.
    NULL = unrecoverable (row dropped)."""
    sub2 = F.element_at(F.split(F.trim(last), "\\s+", 3), 2)
    return (
        F.when(last.isin("y", "n"), last)
        .when(F.substring(sub2, 1, 1) == "y", F.lit("y"))
        .when(F.substring(sub2, 1, 1) == "n", F.lit("n"))
        .otherwise(F.lit(None))
    )


def reformat_us_chan_table(
    lines: DataFrame,
    start_pat: str,
    title_pat: str,
    end_pat: str,
) -> DataFrame:
    """US channel table → 'US channel status txid … txdata …' lines.

    OFDMA rows are detected by the '-' frequency-range separator
    (preprocess.py:322-331) and re-split to 11 tokens; SC-QAM rows use
    the 9-token layout with freq_end = freq_start
    (us_chan_log_scqam, preprocess.py:385-402).
    """

    def cook(c: Column) -> Column:
        t9 = F.split(F.trim(c), "\\s+", 9)
        t11 = F.split(F.trim(c), "\\s+", 11)
        is_ofdma = F.element_at(t9, 7) == "-"

        scqam_tx = _legacy_repair(F.element_at(t9, 9))
        ofdma_tx = _legacy_repair(F.element_at(t11, 11))
        fmt = (
            "US channel status txid %s ucid %s dcid %s rngsid %s power %s"
            " freqstart %s freqend %s symrate %s phytype %s txdata %s"
        )
        cooked_scqam = F.format_string(
            fmt,
            F.element_at(t9, 1), F.element_at(t9, 2), F.element_at(t9, 3),
            F.element_at(t9, 4), F.element_at(t9, 5), F.element_at(t9, 6),
            F.element_at(t9, 6),  # freq_end = freq_start for SC-QAM
            F.element_at(t9, 7), F.element_at(t9, 8), scqam_tx,
        )
        cooked_ofdma = F.format_string(
            fmt,
            F.element_at(t11, 1), F.element_at(t11, 2), F.element_at(t11, 3),
            F.element_at(t11, 4), F.element_at(t11, 5), F.element_at(t11, 6),
            F.element_at(t11, 8),  # range end after the '-' separator
            F.element_at(t11, 9), F.element_at(t11, 10), ofdma_tx,
        )
        return F.when(
            is_ofdma & (F.size(t11) >= 11) & ofdma_tx.isNotNull(), cooked_ofdma
        ).when(
            ~is_ofdma & (F.size(t9) >= 9) & scqam_tx.isNotNull(), cooked_scqam
        )

    return _reformat_table(lines, start_pat, title_pat, end_pat, cook)
