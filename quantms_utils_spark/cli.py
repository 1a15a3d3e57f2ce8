"""CLI mirroring the reference's console script surface
(quantmsutils/quantmsutilsc.py:17-27): the same six subcommands, backed by the
Spark engine.

Run as ``python -m quantms_utils_spark.cli <subcommand> ...``.
"""

from __future__ import annotations

import sys

import click

from quantms_utils_spark.session import get_spark


@click.group(context_settings={"help_option_names": ["-h", "--help"]})
@click.version_option(package_name=None, version="0.1.0")
def cli() -> None:
    """quantms-utils-spark: PySpark-native mass-spectrometry analytics."""


def _spark(master: str | None):
    return get_spark(app_name="quantms-utils-spark-cli", master=master or "local[*]")


@cli.command("diann2msstats", short_help="Convert DIA-NN report to MSstats format")
@click.option("--diann_report", required=True, type=click.Path(exists=True))
@click.option("--exp_design", required=True, type=click.Path(exists=True))
@click.option("--qvalue_threshold", default=0.01, type=float)
@click.option("--out_dir", default=".", type=click.Path())
@click.option("--master", default=None)
def diann2msstats_cmd(diann_report, exp_design, qvalue_threshold, out_dir, master):
    from quantms_utils_spark.pipelines.diann2msstats import diann_to_msstats

    spark = _spark(master)
    df = diann_to_msstats(spark, diann_report, exp_design, qvalue_threshold, out_dir)
    click.echo(f"rows={df.count()}")


@cli.command("openms2sample", short_help="Extract sample info from a design file")
@click.option("--expdesign", required=True, type=click.Path(exists=True))
@click.option("--out_dir", default=".", type=click.Path())
@click.option("--master", default=None)
def openms2sample_cmd(expdesign, out_dir, master):
    from quantms_utils_spark.pipelines.extract_sample import extract_sample

    spark = _spark(master)
    df = extract_sample(spark, expdesign, out_dir)
    click.echo(f"rows={df.count()}")


@cli.command("checksamplesheet", short_help="Validate an SDRF/design sample sheet")
@click.option("--is_sdrf/--no-is_sdrf", default=True)
@click.option("--check_ms", is_flag=True, default=False)
@click.option("--sdrf", "--input", "input_file", required=True, type=click.Path(exists=True))
@click.option("--template", default="ms-proteomics")
# off by default, like the reference (check_samplesheet.py:113-125) — full
# template validation is the default tier, --minimal opts down.
@click.option("--minimal/--full", default=False)
@click.option("--use_ols_cache_only", is_flag=True, default=False)
@click.option("--master", default=None)
def checksamplesheet_cmd(
    is_sdrf, check_ms, input_file, template, minimal, use_ols_cache_only, master
):
    from quantms_utils_spark.pipelines.check_samplesheet import check_samplesheet

    spark = _spark(master)
    errors = check_samplesheet(
        spark, input_file, template=template, minimal=minimal,
        use_ols_cache_only=use_ols_cache_only,
    )
    for error in errors:
        click.echo(error)
    sys.exit(1 if errors else 0)


@cli.command("dianncfg", short_help="Create DIA-NN config with enzyme and PTMs")
@click.option("--enzyme", "-e", default=None)
@click.option("--fix_mod", "-f", default=None)
@click.option("--var_mod", "-v", default=None)
@click.option("--out_dir", default=".", type=click.Path())
def dianncfg_cmd(enzyme, fix_mod, var_mod, out_dir):
    from quantms_utils_spark.pipelines.dianncfg import ConfigError, write_diann_config

    try:
        target = write_diann_config(enzyme, fix_mod, var_mod, out_dir)
    except ConfigError as exc:
        click.echo(f"ERROR: {exc}", err=True)
        sys.exit(1)
    click.echo(f"config written to {target}")


@cli.command("mzmlstats", short_help="Per-spectrum statistics from mzML files")
@click.option("--ms_path", required=True, multiple=True)
@click.option("--ms2_file", is_flag=True, default=False)
@click.option("--feature_detection", is_flag=True, default=False)
@click.option(
    "--feature_method",
    default="masstrace",
    type=click.Choice(["masstrace", "seed"]),
    help="masstrace = the real mass-trace/isotope feature finder (reference "
    "semantics, ms1_feature_finder.py); seed = diagnostic top-N stand-in.",
)
@click.option("--out_dir", default=".", type=click.Path())
@click.option("--parser", default="auto", type=click.Choice(["auto", "pyopenms", "xml"]))
@click.option("--master", default=None)
def mzmlstats_cmd(ms_path, ms2_file, feature_detection, feature_method, out_dir, parser, master):
    from quantms_utils_spark.pipelines.mzml_stats import write_tables
    from quantms_utils_spark.sources.mzml import read_spectra
    from quantms_utils_spark.sources.runfiles import run_stem

    spark = _spark(master)
    spectra = read_spectra(spark, list(ms_path), parser=parser)
    stem = run_stem(ms_path[0]) if len(ms_path) == 1 else "combined"
    outputs = write_tables(
        spectra, out_dir, stem, ms2_file=ms2_file,
        feature_detection=feature_detection, feature_method=feature_method,
    )
    for name, path in outputs.items():
        click.echo(f"{name}: {path}")


@cli.command("psmconvert", short_help="Convert idXML PSMs to parquet")
@click.option("--idxml", required=True, multiple=True)
@click.option("--ms2_file", default=None, type=click.Path())
@click.option("--export_decoy_psm", is_flag=True, default=False)
@click.option("--out_dir", default=".", type=click.Path())
@click.option("--parser", default="auto", type=click.Choice(["auto", "pyopenms", "xml"]))
@click.option("--master", default=None)
def psmconvert_cmd(idxml, ms2_file, export_decoy_psm, out_dir, parser, master):
    from quantms_utils_spark.pipelines.psm import convert_psms
    from quantms_utils_spark.sources.idxml import read_identifications
    from quantms_utils_spark.sources.runfiles import run_stem

    spark = _spark(master)
    ids = read_identifications(spark, list(idxml), parser=parser)
    ms2 = spark.read.parquet(ms2_file) if ms2_file else None
    psms = convert_psms(ids, ms2, export_decoy_psm=export_decoy_psm)
    stem = run_stem(idxml[0])
    target = f"{out_dir}/{stem}_psm.parquet"
    psms.write.mode("overwrite").parquet(target, compression="zstd")
    click.echo(f"psm: {target} rows={spark.read.parquet(target).count()}")


@cli.command("curate", short_help="Run the training-corpus curation chain")
@click.option("--input", "input_path", required=True, type=click.Path(exists=True),
              help="parquet with (doc_id, text, source) columns")
@click.option("--out_dir", required=True, type=click.Path())
@click.option("--token_budget", default=300, type=int)
@click.option("--master", default=None)
def curate_cmd(input_path, out_dir, token_budget, master):
    """quality filter -> exact dedup -> near-dup -> decontaminate -> mixture
    sample (pipelines.curation.curate_corpus) over a parquet corpus."""
    from quantms_utils_spark.pipelines.curation import curate_corpus

    spark = _spark(master)
    docs = spark.read.parquet(input_path)
    curated = curate_corpus(docs, token_budget=token_budget)
    curated.write.mode("overwrite").parquet(out_dir)
    click.echo(f"rows={spark.read.parquet(out_dir).count()}")


@cli.command("webingest", short_help="Parse WARC crawl files into a corpus")
@click.option("--input", "input_glob", required=True,
              help="path/glob of .warc / .warc.gz files")
@click.option("--out_dir", required=True, type=click.Path())
@click.option("--min_chars", default=1, type=int)
@click.option("--master", default=None)
def webingest_cmd(input_glob, out_dir, min_chars, master):
    """WARC -> extracted, URL+content-deduplicated corpus parquet
    (pipelines.web_ingest.web_corpus)."""
    from quantms_utils_spark.pipelines.web_ingest import web_corpus

    spark = _spark(master)
    corpus = web_corpus(spark, input_glob, min_chars=min_chars)
    corpus.write.mode("overwrite").parquet(out_dir)
    click.echo(f"rows={spark.read.parquet(out_dir).count()}")


def main() -> None:
    try:
        cli(standalone_mode=True)
    except SystemExit as exc:  # mirror reference quantmsutilsc.py:30-35
        if exc.code not in (0, None):
            raise


if __name__ == "__main__":
    cli()
