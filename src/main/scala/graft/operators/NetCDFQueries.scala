package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.engine.IoServer
import graft.functions.{ArrayPrimitives => AP}
import graft.sources.{ExportScan, NetCDF3}

/** End-to-end NetCDF pipeline with a DuckDB oracle: export the
  * embeddings to a NetCDF-classic file with our writer, load it back
  * through the DSv2 reader via the dialect's `@file` FROM (the
  * reference's create_frag_select_file, oph_io_server_query_engine.c:
  * 244-249) with an ESDM-style read-stream reduction
  * (sub_operation/sub_args, oph_io_server_esdm.c:1890-1899), CTAS the
  * result and read the fragment — proving writer → reader → dialect →
  * Catalyst agree with a SQL replay over the original parquet.
  */
object NetCDFQueries {

  /** qn01 — NetCDF round-trip: export → @file load with sub_operation
    * avg-8 reduce → key-algebra subset → fragment readback. */
  def qn01_netcdf_roundtrip(s: SparkSession, dir: String): DataFrame = {
    // export is a single-file write (the reference's oph_export path),
    // but driver memory stays bounded: vec_id is dense from 0, so the
    // id-ordered stream IS the row-major layout — pump it (oph_export's
    // ExportScan.ordered) into the sequential CDF data section
    val (n, _, rows) = ExportScan.ordered(Tables.embeddings(s, dir), "vec_id", "embedding")
    val path = Files.createTempDirectory("graft_nc").resolve("emb.nc").toString
    NetCDF3.writeDoubleVarStreamed(path, Seq("row" -> n, "x" -> 64), "measure", rows)

    val ses = new IoServer(s).newSession()
    ses.execute(
      s"operation=create_frag_select;frag_name=ncout;" +
        "field=id_dim|measure;field_alias=id_dim|measure;" +
        s"from=@$path;measure=measure;explicit=1;" +
        "sub_operation=avg;sub_args=8;" +
        "where=oph_is_in_subset(id_dim,1,2,99999)")
    ses.execute("operation=select;field=id_dim|measure;from=ncout;order=id_dim").get
      .withColumn("measure", AP.fx12(col("measure")))
  }

  /** qn02 — NetCDF-4/HDF5 read: the SAME deterministic grid written as
    * a CDF-1 file (our classic writer) and as its NetCDF-4/HDF5 twin
    * (chunked + deflate, ragged edge chunks), both imported through the
    * dialect's file_import → DSv2 reader, joined on id_dim. Matching
    * oracle rows prove the HDF5 path (superblock, object headers, chunk
    * B-tree, deflate) decodes bit-identically to the classic path
    * (reference NetCDF-4 dispatch: oph_io_server_nc.c:1612,2716-3243). */
  def qn02_netcdf4_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val tmp = Files.createTempDirectory("graft_nc4")
    val ncPath = tmp.resolve("twin.nc").toString
    val h5Path = tmp.resolve("twin.h5").toString
    NetCDF3.writeDoubleVar(ncPath, Seq("row" -> nRows, "col" -> nCols),
      "measure", data)
    graft.sources.HDF5.writeDoubleVar(h5Path,
      Seq("row" -> nRows, "col" -> nCols), "measure", data,
      chunkDims = Some(Seq(16, 8))) // 60 % 16 != 0 → ragged edge chunk
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=h5in;src_path=@$h5Path;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=ncin;src_path=@$ncPath;" +
      "measure=measure;explicit=1")
    val h5 = ses.execute(
      "operation=select;field=id_dim|measure;from=h5in;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_hdf5"))
    val nc = ses.execute(
      "operation=select;field=id_dim|measure;from=ncin;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_cdf"))
    nc.join(h5, "id_dim").orderBy("id_dim")
  }

  /** qn03 — Zarr store read: the qn02 grid written as a
    * blosc(lz4+shuffle)-compressed Zarr v2 store (the numcodecs default
    * frame, decoded by the pure-JVM [[graft.sources.Blosc]] codec;
    * ragged edge chunks), as a second v2 store exercising the OTHER
    * blosc axes — the blosclz codec + the bitshuffle transform — and as
    * a CDF-1 file, all through file_import → the format-sniffing DSv2
    * reader, joined on id_dim (reference capability: HISTORY.md v1.9.0
    * "Support for Zarr format" / URL src_paths,
    * oph_io_server_nc.c:2769). */
  def qn03_zarr_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val tmp = Files.createTempDirectory("graft_zarr_q")
    val ncPath = tmp.resolve("twin.nc").toString
    val zPath = tmp.resolve("twin.zarr").toString
    val zlzPath = tmp.resolve("twinlz.zarr").toString
    val zbitPath = tmp.resolve("twinbit.zarr").toString
    val conf = s.sparkContext.hadoopConfiguration
    NetCDF3.writeDoubleVar(ncPath, Seq("row" -> nRows, "col" -> nCols),
      "measure", data)
    graft.sources.Zarr.writeDoubleVar(zPath, conf,
      Seq("row" -> nRows, "col" -> nCols), "measure", data,
      chunkDims = Some(Seq(16, 8)), // 60 % 16 != 0 → ragged edge chunk
      compressor = "blosc")
    graft.sources.Zarr.writeDoubleVar(zlzPath, conf,
      Seq("row" -> nRows, "col" -> nCols), "measure", data,
      chunkDims = Some(Seq(16, 8)), compressor = "blosc-blosclz")
    graft.sources.Zarr.writeDoubleVar(zbitPath, conf,
      Seq("row" -> nRows, "col" -> nCols), "measure", data,
      chunkDims = Some(Seq(16, 8)), compressor = "blosc-bitshuffle")
    // numcodecs-zstd store ({"id": "zstd"}): raw zstd frames per chunk,
    // decoded through the zstd library Spark itself ships
    val zzstdPath = tmp.resolve("twinzstd.zarr").toString
    graft.sources.Zarr.writeDoubleVar(zzstdPath, conf,
      Seq("row" -> nRows, "col" -> nCols), "measure", data,
      chunkDims = Some(Seq(16, 8)), compressor = "zstd")
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=zin;src_path=@$zPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=zlzin;src_path=@$zlzPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=zbitin;src_path=@$zbitPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=zzstdin;src_path=@$zzstdPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=ncin2;src_path=@$ncPath;" +
      "measure=measure;explicit=1")
    val z = ses.execute(
      "operation=select;field=id_dim|measure;from=zin;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_zarr"))
    val zlz = ses.execute(
      "operation=select;field=id_dim|measure;from=zlzin;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_blosclz"))
    val zbit = ses.execute(
      "operation=select;field=id_dim|measure;from=zbitin;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_bitshuf"))
    val zzstd = ses.execute(
      "operation=select;field=id_dim|measure;from=zzstdin;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_zstd"))
    val nc = ses.execute(
      "operation=select;field=id_dim|measure;from=ncin2;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_cdf"))
    nc.join(z, "id_dim").join(zlz, "id_dim").join(zbit, "id_dim")
      .join(zzstd, "id_dim").orderBy("id_dim")
  }

  /** qn07 — Zarr **v3** store read: the qn03 grid written as a v3 store
    * (group + array `zarr.json`, bytes-little + gzip codec chain,
    * default `c/`-prefixed nested chunk keys, ragged edge chunks) and as
    * a CDF-1 twin, both through file_import → the format-sniffing DSv2
    * reader, joined on id_dim. Same capability row as qn03 for the
    * current Zarr spec generation. */
  def qn07_zarr_v3_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val tmp = Files.createTempDirectory("graft_zarr3_q")
    val ncPath = tmp.resolve("twin.nc").toString
    val zPath = tmp.resolve("twin.zarr").toString
    NetCDF3.writeDoubleVar(ncPath, Seq("row" -> nRows, "col" -> nCols),
      "measure", data)
    graft.sources.Zarr.writeDoubleVarV3(zPath, s.sparkContext.hadoopConfiguration,
      Seq("row" -> nRows, "col" -> nCols), "measure", data,
      chunkDims = Some(Seq(16, 8))) // 60 % 16 != 0 → ragged edge chunk
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=z3in;src_path=@$zPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=ncin3;src_path=@$ncPath;" +
      "measure=measure;explicit=1")
    val z = ses.execute(
      "operation=select;field=id_dim|measure;from=z3in;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_zarr"))
    val nc = ses.execute(
      "operation=select;field=id_dim|measure;from=ncin3;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_cdf"))
    nc.join(z, "id_dim").orderBy("id_dim")
  }

  /** qn08 — oph_export container formats under the oracle: a fragment
    * built from the qn02 formula grid is EXPORTED through the engine's
    * `oph_export(frag, path, format)` to NetCDF-4 (HDF5 writer) and a
    * Zarr v3 store, each re-imported through the sniffing reader and
    * joined on id_dim — the full write→catalog→read lifecycle of every
    * round-trip format in one CORRECTNESS row (classic CDF-1 is already
    * qd07's byte round trip). */
  def qn08_export_formats(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val tmp = Files.createTempDirectory("graft_exportf")
    val srcPath = tmp.resolve("src.nc").toString
    val h5Path = tmp.resolve("out.h5").toString
    val z3Path = tmp.resolve("out.zarr").toString
    NetCDF3.writeDoubleVar(srcPath, Seq("row" -> nRows, "col" -> nCols),
      "measure", data)
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=exsrc;src_path=@$srcPath;" +
      "measure=measure;explicit=1")
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exsrc|$h5Path|netcdf4")
    // rows-per-chunk 16 → a 4-chunk grid: the DISTRIBUTED export path
    // (executors write chunks, driver only metadata) under the oracle
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exsrc|$z3Path|zarr3|16")
    // sharding_indexed: 8-row inner chunks, 3 per shard → 3 shard
    // objects carrying their own CRC-32C-tailed chunk indexes; the last
    // shard holds a partial chunk and a missing (-1,-1) slot
    val zsPath = tmp.resolve("out_sharded.zarr").toString
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exsrc|$zsPath|zarr3-sharded|8|3")
    ses.execute(s"operation=file_import;frag_name=exh5;src_path=@$h5Path;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=exz3;src_path=@$z3Path;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=exzs;src_path=@$zsPath;" +
      "measure=measure;explicit=1")
    val h5 = ses.execute(
      "operation=select;field=id_dim|measure;from=exh5;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_hdf5"))
    val z3 = ses.execute(
      "operation=select;field=id_dim|measure;from=exz3;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_zarr"))
    val zs = ses.execute(
      "operation=select;field=id_dim|measure;from=exzs;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_sharded"))
    h5.join(z3, "id_dim").join(zs, "id_dim").orderBy("id_dim")
  }

  /** qn11 — DISTRIBUTED NetCDF-4/HDF5 export under the oracle (closing
    * the round-11 verdict's last driver-side sink): the qn02 formula
    * grid is exported through `oph_export(frag, path, netcdf4-dist,
    * rowsPerChunk=16)` — the driver writes only the metadata head
    * (layout-v4 chunked, IMPLICIT chunk index) and EXECUTORS write the
    * 4 chunk payloads at their computed disjoint file offsets in
    * parallel — then re-imported through the sniffing reader next to a
    * driver-side streamed `netcdf4` export of the same fragment. Both
    * columns must carry the identical values: the parallel writer and
    * the sequential writer are interchangeable sinks. */
  def qn11_export_distributed(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val tmp = Files.createTempDirectory("graft_exportd")
    val srcPath = tmp.resolve("src.nc").toString
    val distPath = tmp.resolve("dist.h5").toString
    val seqPath = tmp.resolve("seq.h5").toString
    NetCDF3.writeDoubleVar(srcPath, Seq("row" -> nRows, "col" -> nCols),
      "measure", data)
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=exdsrc;src_path=@$srcPath;" +
      "measure=measure;explicit=1")
    // rows-per-chunk 16 → 4 chunks, written by up to 4 concurrent tasks
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exdsrc|$distPath|netcdf4-dist|16")
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exdsrc|$seqPath|netcdf4")
    ses.execute(s"operation=file_import;frag_name=exdd;src_path=@$distPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=exds;src_path=@$seqPath;" +
      "measure=measure;explicit=1")
    val d = ses.execute(
      "operation=select;field=id_dim|measure;from=exdd;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_dist"))
    val q = ses.execute(
      "operation=select;field=id_dim|measure;from=exds;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_seq"))
    d.join(q, "id_dim").orderBy("id_dim")
  }


  /** qn12 — distributed NetCDF-4 export with the INDEXED chunk layouts
    * (round-12 verdict item: qn11 covered only the implicit index):
    * the same grid exported through `netcdf4-dist-fa` (fixed-array
    * FAHD/FADB chunk index) and `netcdf4-dist-bt2` (v2-B-tree
    * BTHD/BTLF) — the two index structures HDF5 1.10+ itself writes
    * for bounded dims. Chunk addresses are closed-form for unfiltered
    * fixed-size chunks, so the driver writes the COMPLETE pre-addressed
    * index inside the metadata head and >1 executor task fills the
    * chunk slots concurrently; both re-import through the sniffing
    * reader next to a sequential `netcdf4` export and must carry
    * identical values. */
  def qn12_export_dist_indexed(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val tmp = Files.createTempDirectory("graft_exportdi")
    val srcPath = tmp.resolve("src.nc").toString
    val faPath = tmp.resolve("fa.h5").toString
    val btPath = tmp.resolve("bt.h5").toString
    val seqPath = tmp.resolve("seq.h5").toString
    NetCDF3.writeDoubleVar(srcPath, Seq("row" -> nRows, "col" -> nCols),
      "measure", data)
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=exisrc;src_path=@$srcPath;" +
      "measure=measure;explicit=1")
    // rows-per-chunk 16 -> 4 chunks, written by up to 4 concurrent tasks
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exisrc|$faPath|netcdf4-dist-fa|16")
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exisrc|$btPath|netcdf4-dist-bt2|16")
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exisrc|$seqPath|netcdf4")
    ses.execute(s"operation=file_import;frag_name=exifa;src_path=@$faPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=exibt;src_path=@$btPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=exisq;src_path=@$seqPath;" +
      "measure=measure;explicit=1")
    val fa = ses.execute(
      "operation=select;field=id_dim|measure;from=exifa;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_fixedarray"))
    val bt = ses.execute(
      "operation=select;field=id_dim|measure;from=exibt;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_btree2"))
    val sq = ses.execute(
      "operation=select;field=id_dim|measure;from=exisq;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_seq"))
    fa.join(bt, "id_dim").join(sq, "id_dim").orderBy("id_dim")
  }

  /** qn15 — distributed NetCDF-4 export with the EXTENSIBLE-ARRAY chunk
    * index (round-13 verdict item: the last cell of the distributed
    * writer matrix — `HDF5.scala` previously rejected it, routing
    * unlimited-dim exports through the sequential driver writer): the
    * 60×8 grid exported through `netcdf4-dist-ea` with rows-per-chunk 4
    * — 15 chunks, so the pre-built index exercises BOTH element homes
    * (4 inline in the EAIB index block + an EADB data block for the
    * rest) and up to 15 executor tasks fill the pre-addressed slots
    * concurrently. Dim 0 is declared H5S_UNLIMITED exactly as the
    * C library lays out an append-able dataset, so the export stays
    * appendable by any HDF5 writer afterwards. Re-imports through the
    * sniffing reader (the qn10 EA reader structs) next to a sequential
    * `netcdf4` export and must carry identical values.
    *
    * Scale shape: identical to qn11/qn12 — driver writes a sub-KB head,
    * executors write disjoint byte ranges, no shuffle beyond the
    * chunk-id groupBy; at 100 TB this is the MPI-IO pattern with the
    * index that keeps the file appendable. */
  def qn15_export_dist_ea(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val tmp = Files.createTempDirectory("graft_exportea")
    val srcPath = tmp.resolve("src.nc").toString
    val eaPath = tmp.resolve("ea.h5").toString
    val seqPath = tmp.resolve("seq.h5").toString
    NetCDF3.writeDoubleVar(srcPath, Seq("row" -> nRows, "col" -> nCols),
      "measure", data)
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=exesrc;src_path=@$srcPath;" +
      "measure=measure;explicit=1")
    // rows-per-chunk 4 -> 15 chunks: 4 EAIB-inline + 11 in an EADB
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exesrc|$eaPath|netcdf4-dist-ea|4")
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exesrc|$seqPath|netcdf4")
    ses.execute(s"operation=file_import;frag_name=exeea;src_path=@$eaPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=exesq;src_path=@$seqPath;" +
      "measure=measure;explicit=1")
    val ea = ses.execute(
      "operation=select;field=id_dim|measure;from=exeea;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_extarray"))
    val sq = ses.execute(
      "operation=select;field=id_dim|measure;from=exesq;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_seq"))
    ea.join(sq, "id_dim").orderBy("id_dim")
  }

  /** qn17 — FILTERED distributed NetCDF-4 export (round-14 verdict item
    * 1: the parallel writer previously emitted only UNFILTERED chunks,
    * while the sequential writer already produced
    * shuffle+deflate+fletcher32 files — so the 100 TB egress path wrote
    * uncompressed data). The 60×8 grid is exported through all three
    * filtered distributed containers — `netcdf4-dist-fa-z` (filtered
    * fixed-array index, rows-per-chunk 16 → 4 chunks / up to 4
    * concurrent tasks), `netcdf4-dist-bt2-z` (filtered v2-B-tree) and
    * `netcdf4-dist-ea-z` (filtered extensible array, rows-per-chunk 4 →
    * 15 chunks exercising both EAIB-inline and EADB element homes) —
    * and each re-imports through the sniffing reader (which verifies
    * every fletcher32 checksum and inverts shuffle+deflate) next to a
    * sequential `netcdf4` export with identical values. `z_smaller`
    * additionally pins that compression actually happened: the filtered
    * FA file must be strictly smaller than the unfiltered distributed
    * FA file of the same grid.
    *
    * Scale shape — the two-phase collective write: executors filter +
    * spill their chunks and report (index, size) (~16 B/chunk of driver
    * state, the same order as the chunk index any single-file HDF5
    * writer must assemble), the driver prefix-sums offsets into the
    * filtered chunk index inside the sub-KB head, and executors place
    * blobs at disjoint ranges concurrently. Reference: OPH_EXPORTNC is
    * the reference's primary egress
    * (oph_io_server_query_procedures.c:221-325). */
  def qn17_export_dist_filtered(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val tmp = Files.createTempDirectory("graft_exportdz")
    val srcPath = tmp.resolve("src.nc").toString
    val fazPath = tmp.resolve("faz.h5").toString
    val btzPath = tmp.resolve("btz.h5").toString
    val eazPath = tmp.resolve("eaz.h5").toString
    val rawPath = tmp.resolve("raw.h5").toString
    val seqPath = tmp.resolve("seq.h5").toString
    NetCDF3.writeDoubleVar(srcPath, Seq("row" -> nRows, "col" -> nCols),
      "measure", data)
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=exzsrc;src_path=@$srcPath;" +
      "measure=measure;explicit=1")
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exzsrc|$fazPath|netcdf4-dist-fa-z|16")
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exzsrc|$btzPath|netcdf4-dist-bt2-z|16")
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exzsrc|$eazPath|netcdf4-dist-ea-z|4")
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exzsrc|$rawPath|netcdf4-dist-fa|16")
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=exzsrc|$seqPath|netcdf4")
    ses.execute(s"operation=file_import;frag_name=exzfa;src_path=@$fazPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=exzbt;src_path=@$btzPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=exzea;src_path=@$eazPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=exzsq;src_path=@$seqPath;" +
      "measure=measure;explicit=1")
    val zSmaller =
      if (new java.io.File(fazPath).length <
          new java.io.File(rawPath).length) 1L else 0L
    val fa = ses.execute(
      "operation=select;field=id_dim|measure;from=exzfa;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_fa_z"))
    val bt = ses.execute(
      "operation=select;field=id_dim|measure;from=exzbt;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_bt2_z"))
    val ea = ses.execute(
      "operation=select;field=id_dim|measure;from=exzea;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_ea_z"))
    val sq = ses.execute(
      "operation=select;field=id_dim|measure;from=exzsq;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_seq"))
    fa.join(bt, "id_dim").join(ea, "id_dim").join(sq, "id_dim")
      .withColumn("z_smaller", lit(zSmaller))
      .orderBy("id_dim")
  }

  /** qn13 — JSONL corpus ingest with malformed-row quarantine: the
    * production front door for text corpora (crawl dumps, vendor drops)
    * is newline-delimited JSON where some fraction of lines is broken —
    * truncated uploads, encoding damage, half-written shards. The
    * ingest must (a) parse good rows schema-on-read, (b) QUARANTINE bad
    * rows without failing the job or silently dropping them, and (c)
    * account for both so corpus bookkeeping balances.
    *
    * The landing directory is materialized from `documents` via
    * `to_json` (distributed write, proper escaping), with every
    * `doc_id % 13 == 0` line deterministically truncated to 20
    * characters — unbalanced braces, malformed regardless of content.
    * The read is Spark's native distributed JSON source in PERMISSIVE
    * mode with `columnNameOfCorruptRecord`: bad lines come back with
    * all schema fields null and the raw line preserved, and the
    * aggregate books them under the `_quarantine` bucket. The oracle
    * PREDICTS the outcome from the parquet alone (which rows were
    * corrupted is a pure doc_id function) — an independent formulation
    * that fails if the parser ever drops or misparses a row.
    *
    * Scale posture: both the landing write and the JSON scan are
    * embarrassingly parallel file operations; the only shuffle is the
    * final per-source partial+final aggregate. At 100 TB the JSON scan
    * IS the cost — schema is supplied (no inference pass over the
    * corpus), and the quarantine column rides the same scan. */
  def qn13_jsonl_quarantine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val landing = Files.createTempDirectory("graft_jsonl").toString
    Tables.documents(s, dir)
      .select(col("doc_id"), to_json(struct(col("doc_id"), col("lang"),
        col("source"), col("n_chars"), col("text"))).as("j"))
      .select(when(col("doc_id") % 13 === 0, substring(col("j"), 1, 20))
        .otherwise(col("j")).as("value"))
      .write.mode("overwrite").text(landing)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType),
      StructField("text", StringType), StructField("_corrupt", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(landing)
      .groupBy(coalesce(col("source"), lit("_quarantine")).as("source"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("n_chars"), lit(0L))).as("chars_sum"),
        sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_corrupt"))
      .orderBy("source")
  }

  /** qn20 — WARC/1.0 crawl ingest with per-record quarantine: the
    * corpus front door. The fixture is a landing directory of 8
    * `.warc.gz` shards written EXECUTOR-side (one per partition, the
    * qn13 landing discipline): each shard opens with a warcinfo record
    * and carries a request + response member pair per document, every
    * record its own gzip member (the Common Crawl convention that makes
    * a 100 TB crawl splittable). Two deterministic corruption classes
    * hit the RESPONSE member only: `doc_id % 34 == 0` truncates the
    * gzip member mid-stream (the reader must resync on the next gzip
    * magic — one bad record, not a dead shard tail), and
    * `doc_id % 17 == 0 && % 34 != 0` declares a hostile 2^40
    * Content-Length (rejected by the Long-widened bounds check before
    * any allocation). The read walks members via [[graft.sources.Warc.walk]],
    * filters `WARC-Type: response`, frames the HTML out of the HTTP
    * payload, and books per `doc_id % 8` bucket: docs, good, quarantined
    * (= docs − good, the doc-level accounting that stays deterministic
    * even when a truncated member spawns extra resync rejections), and
    * the summed HTML byte length.
    *
    * The oracle PREDICTS everything from the parquet alone: which docs
    * quarantine is a pure doc_id function, and each page's byte length
    * is [[graft.sources.Html.synthFixedLen]] + 3·len(str(id)) + the
    * entity-escaped input lengths — so a reader that drops a good
    * record, mis-frames a body, or survives a hostile length breaks the
    * books. Reference anchor: the reference ingests only scientific
    * formats (oph_io_server_nc.c:2716); crawl WARC is the equivalent
    * front door for a text corpus.
    *
    * Scale shape: shard write and member walk are both scan-parallel
    * per file (production bounds shards at ~1 GiB, the crawl norm);
    * the only shuffle is the final 8-bucket aggregate. */
  def qn20_warc_ingest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = Files.createTempDirectory("graft_warc").toString
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    writeWarcShards(docs.select(col("doc_id"), col("doc_id"),
      col("lang"), col("source"), col("text")), landing, "shard")
    val good = s.read.format("binaryFile").load(landing)
      .select(col("content"))
      .as[Array[Byte]]
      .mapPartitions(_.flatMap(warcGoodDocs))
      .toDF("doc_id", "html_len")
    docs.select(col("doc_id"))
      .join(good, Seq("doc_id"), "left")
      .groupBy(pmod(col("doc_id"), lit(8L)).cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("html_len").isNotNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("html_len").isNull, 1L).otherwise(0L)).as("n_quarantined"),
        sum(coalesce(col("html_len"), lit(0L))).as("html_bytes"))
      .orderBy("shard")
  }

  /** Shared WARC fixture writer (qn20 batch, q91 streaming, p30
    * funnel): one `.warc.gz` shard per partition into `landing`, a
    * warcinfo head record then a request + response member pair per
    * document, with the qn20 corruption classes on the response member
    * only (URI id `% 34 == 0` truncated gzip, `% 17 == 0 && % 34 != 0`
    * hostile Content-Length). `docs` carries FIVE columns
    * (uri_id, page_id, lang, source, text): uri and page ids usually
    * coincide, but the p30 mirror-duplicate fixture serves one page
    * under two URIs. Returns the written doc count (forcing the
    * executor-side write). */
  private[operators] def writeWarcShards(docs: DataFrame, landing: String,
      filePrefix: String): Long = {
    import graft.sources.{Html, Warc}
    val spark = docs.sparkSession
    import spark.implicits._
    docs.repartition(8)
      .as[(Long, Long, String, String, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val f = new java.io.File(landing, f"${filePrefix}_$pid%03d.warc.gz")
        val out = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(f))
        try {
          out.write(Warc.gzipMember(Warc.encodeRecord("warcinfo",
            Seq("WARC-Date" -> "2026-01-01T00:00:00Z",
              "Content-Type" -> "application/warc-fields"),
            "software: graft-warc/1.0\r\nformat: WARC File Format 1.0\r\n"
              .getBytes("US-ASCII"))))
          var n = 0L
          it.foreach { case (id, pageId, lang, source, text) =>
            // byte accounting requires one byte per char (the media-
            // encoder rule): fail loud instead of diverging silently
            require(text.forall(_ < 128) && source.forall(_ < 128) &&
              lang.forall(_ < 128),
              s"doc $id: non-ASCII char — page bytes would diverge from chars")
            val uri = s"http://crawl.example/doc/$id"
            val date = "2026-01-01T00:00:00Z"
            out.write(Warc.gzipMember(Warc.encodeRecord("request",
              Seq("WARC-Target-URI" -> uri, "WARC-Date" -> date,
                "WARC-Record-ID" -> s"<urn:graft:doc:$id:request>",
                "Content-Type" -> "application/http;msgtype=request"),
              s"GET /doc/$id HTTP/1.1\r\nHost: crawl.example\r\n\r\n"
                .getBytes("US-ASCII"))))
            val html = Html.synth(pageId, lang, source, text)
              .getBytes("US-ASCII")
            val body = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
              s"charset=utf-8\r\nContent-Length: ${html.length}\r\n\r\n")
              .getBytes("US-ASCII") ++ html
            val hostileLen =
              if (id % 17 == 0 && id % 34 != 0) Some(body.length + (1L << 40))
              else None
            val member = Warc.gzipMember(Warc.encodeRecord("response",
              Seq("WARC-Target-URI" -> uri, "WARC-Date" -> date,
                "WARC-Record-ID" -> s"<urn:graft:doc:$id:response>",
                "Content-Type" -> "application/http;msgtype=response"),
              body, hostileLen))
            if (id % 34 == 0)
              out.write(member, 0, math.max(12, member.length * 3 / 5))
            else out.write(member)
            n += 1
          }
          Iterator.single(n)
        } finally out.close()
      }.reduce(_ + _)
  }

  /** Frame the (uri id, html byte range) out of one GOOD response
    * record: WARC-Type filter, doc id from the target URI, HTML after
    * the HTTP header block. A structurally valid record with a
    * missing/non-numeric URI tail or no header terminator quarantines
    * by omission (per-record posture) — it must never fail the task. */
  private def frameResponse(e: Either[String, graft.sources.Warc.Record])
      : Option[(Long, Array[Byte], Int)] = e match {
    case Right(r) if r.warcType == "response" =>
      val uri = r.targetUri
      val idOpt = scala.util.Try(
        uri.substring(uri.lastIndexOf('/') + 1).toLong).toOption
      idOpt.flatMap { id =>
        val body = r.body
        var sep = -1; var i = 0
        while (sep < 0 && i + 3 < body.length) {
          if (body(i) == '\r' && body(i + 1) == '\n' &&
              body(i + 2) == '\r' && body(i + 3) == '\n') sep = i
          i += 1
        }
        if (sep < 0) None else Some((id, body, sep + 4))
      }
    case _ => None // warcinfo/request records, quarantined members
  }

  /** Walk one shard's bytes → (doc_id, html byte length) per good
    * response record. The doc-level books are derived downstream
    * against the parquet. */
  private[operators] def warcGoodDocs(bytes: Array[Byte]): Iterator[(Long, Long)] =
    graft.sources.Warc.walk(bytes).flatMap(e => frameResponse(e).iterator
      .map { case (id, body, at) => (id, (body.length - at).toLong) })

  /** Walk one shard's bytes → (uri id, EXTRACTED page text) per good
    * response record — the p30 funnel's parse+extract stage fused into
    * the shard scan (the html string never leaves the executor). */
  private[operators] def warcGoodPages(bytes: Array[Byte]): Iterator[(Long, String)] =
    graft.sources.Warc.walk(bytes).flatMap(e => frameResponse(e).iterator
      .map { case (id, body, at) =>
        (id, graft.sources.Html.extractText(
          new String(body, at, body.length - at, "US-ASCII")))
      })

  /** qn22 — WARC REVISIT records (the crawler-side dedup the format
    * itself carries): when a crawler re-fetches a page whose payload
    * digest it has already stored, it writes a `revisit` record
    * (WARC-Profile: identical-payload-digest, WARC-Refers-To-Target-URI,
    * WARC-Payload-Digest, HTTP headers only — no payload) instead of a
    * second response. The fixture serves every `doc_id % 23 == 0` page
    * a second time as a revisit of the original URI; the reader walks
    * both record types, RECOMPUTES each response's payload digest
    * (`sha1:<base32>`, the WARC convention) from the bytes it framed
    * out of the gzip members, and verifies every revisit's declared
    * digest against its referent's recomputed one — so a framing slip
    * anywhere between writer and reader breaks `n_verified`, which the
    * oracle pins to the full revisit count. `bytes_saved` is the
    * payload volume the crawler did NOT refetch, replayed by the oracle
    * through the synth length decomposition.
    *
    * Scale shape: scan-parallel walk per shard; the verify join is
    * revisits ⋈ responses on the referent id — at crawl scale the
    * digest index is the bucketed store this equi-join models. */
  def qn22_warc_revisit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Html, Warc}
    val landing = Files.createTempDirectory("graft_warc_rv").toString
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val m = docs.agg(max("doc_id")).head().getLong(0)
    docs.repartition(8).as[(Long, String, String, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val f = new java.io.File(landing, f"rv_$pid%03d.warc.gz")
        val out = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(f))
        try {
          var n = 0L
          val date = "2026-01-01T00:00:00Z"
          it.foreach { case (id, lang, source, text) =>
            require(text.forall(_ < 128) && source.forall(_ < 128) &&
              lang.forall(_ < 128),
              s"doc $id: non-ASCII char — page bytes would diverge from chars")
            val uri = s"http://crawl.example/doc/$id"
            val html = Html.synth(id, lang, source, text).getBytes("US-ASCII")
            val body = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
              s"charset=utf-8\r\nContent-Length: ${html.length}\r\n\r\n")
              .getBytes("US-ASCII") ++ html
            out.write(Warc.gzipMember(Warc.encodeRecord("response",
              Seq("WARC-Target-URI" -> uri, "WARC-Date" -> date,
                "WARC-Payload-Digest" -> Warc.payloadDigest(html),
                "Content-Type" -> "application/http;msgtype=response"),
              body)))
            if (id % 23 == 0) {
              // the second capture: headers only, digest declared
              val rvUri = s"http://crawl.example/doc/${id + m + 1}"
              out.write(Warc.gzipMember(Warc.encodeRecord("revisit",
                Seq("WARC-Target-URI" -> rvUri, "WARC-Date" -> date,
                  "WARC-Profile" ->
                    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest",
                  "WARC-Refers-To-Target-URI" -> uri,
                  "WARC-Payload-Digest" -> Warc.payloadDigest(html),
                  "Content-Type" -> "application/http;msgtype=response"),
                "HTTP/1.1 304 Not Modified\r\n\r\n".getBytes("US-ASCII"))))
            }
            n += 1
          }
          Iterator.single(n)
        } finally out.close()
      }.reduce(_ + _)
    val walked = s.read.format("binaryFile").load(landing)
      .select(col("content")).as[Array[Byte]]
      .mapPartitions { files =>
        files.flatMap { bytes =>
          Warc.walk(bytes).flatMap {
            case Right(r) if r.warcType == "response" =>
              val id = r.targetUri.substring(
                r.targetUri.lastIndexOf('/') + 1).toLong
              val body = r.body
              var sep = -1; var i = 0
              while (sep < 0 && i + 3 < body.length) {
                if (body(i) == '\r' && body(i + 1) == '\n' &&
                    body(i + 2) == '\r' && body(i + 3) == '\n') sep = i
                i += 1
              }
              if (sep < 0) Iterator.empty // no HTTP header block: quarantine
              else {
                val payload =
                  java.util.Arrays.copyOfRange(body, sep + 4, body.length)
                // RECOMPUTED from walked bytes — not copied from the header
                Iterator.single(("response", id, id,
                  Warc.payloadDigest(payload), payload.length.toLong))
              }
            case Right(r) if r.warcType == "revisit" =>
              val refers = r.header("WARC-Refers-To-Target-URI").getOrElse("")
              val refId = refers.substring(refers.lastIndexOf('/') + 1).toLong
              val id = r.targetUri.substring(
                r.targetUri.lastIndexOf('/') + 1).toLong
              Iterator.single(("revisit", id, refId,
                r.header("WARC-Payload-Digest").getOrElse(""), 0L))
            case _ => Iterator.empty
          }
        }
      }.toDF("rtype", "uri_id", "ref_id", "digest", "payload_len")
    val responses = walked.filter(col("rtype") === "response")
      .select(col("ref_id").as("orig_id"), col("digest").as("orig_digest"),
        col("payload_len").as("orig_len"))
    val revisits = walked.filter(col("rtype") === "revisit")
      .join(responses, col("ref_id") === col("orig_id"), "left")
      .select(col("ref_id"),
        when(col("digest") === col("orig_digest"), 1L).otherwise(0L)
          .as("verified"),
        coalesce(col("orig_len"), lit(0L)).as("saved"))
    responses
      .groupBy(pmod(col("orig_id"), lit(8L)).cast("long").as("shard"))
      .agg(count(lit(1)).as("n_response"))
      .join(revisits
        .groupBy(pmod(col("ref_id"), lit(8L)).cast("long").as("shard"))
        .agg(count(lit(1)).as("n_revisit"), sum("verified").as("n_verified"),
          sum("saved").as("bytes_saved")), Seq("shard"), "left")
      .select(col("shard"), col("n_response"),
        coalesce(col("n_revisit"), lit(0L)).as("n_revisit"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        coalesce(col("bytes_saved"), lit(0L)).as("bytes_saved"))
      .orderBy("shard")
  }

  /** qn23 — WebDataset-style tar shards: the de-facto distribution
    * format for multimodal training corpora (per-sample member PAIRS —
    * `doc<id>.txt` + `doc<id>.bin` — packed into `.tar` shards, read
    * sequentially at train time). Eight POSIX-ustar shards are written
    * EXECUTOR-side, one per `doc_id % 8` class (repartitioned by class,
    * so each shard is produced by exactly one task — the qn20 landing
    * discipline), via the from-spec writer in [[graft.sources.Tar]];
    * every 29th document's `.txt` member carries a deliberately wrong
    * header checksum. The walk back re-derives every header checksum
    * (quarantining mismatches member-by-member, GNU tar's
    * warn-and-continue), validates the two-zero-block end-of-archive
    * marker, and books per shard: docs, intact members, quarantined
    * members, intact payload bytes, and the shard's exact byte size —
    * which the oracle replays closed-form from the 512-byte block
    * arithmetic (512·⌈len/512⌉ per member + 1024 trailer), so a
    * padding bug, a checksum-field layout error, or a mis-advanced
    * walk shifts the books.
    *
    * Scale shape: shard write and walk are scan-parallel per file
    * (production bounds shards at ~1 GiB, the WebDataset norm); the
    * only shuffle is the class repartition and the final 8-row
    * aggregate. */
  def qn23_webdataset_tar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Tar
    val landing = Files.createTempDirectory("graft_tar").toString
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val written = docs
      .withColumn("cls", pmod(col("doc_id"), lit(8L)))
      .repartition(8, col("cls"))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        // r18: write-to-temp + rename-into-place (the commit-protocol
        // discipline of the built-in file sinks): a speculative or
        // retried task re-opening shard_N.tar directly would interleave
        // bytes with the original attempt mid-query; the task-attempt-
        // unique temp name makes concurrent attempts disjoint and the
        // atomic rename publishes only a complete shard
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val outs = scala.collection.mutable.Map
          .empty[Long, (java.io.File, java.io.BufferedOutputStream)]
        def stream(cls: Long) = outs.getOrElseUpdate(cls, {
          val tmp = new java.io.File(landing,
            f"shard_$cls%d.tar.inprogress-$attempt%d")
          (tmp, new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(tmp)))
        })._2
        var n = 0L
        var ok = false
        // close in a finally (the qn20/qn22 writer discipline): a failed
        // doc mid-partition must not leak up to 8 open shard handles
        try {
          it.foreach { case (id, text) =>
            require(text.forall(_ < 128),
              s"doc $id: non-ASCII char — member bytes would diverge from chars")
            val o = stream(id % 8)
            o.write(Tar.encodeMember(s"doc$id.txt", text.getBytes("US-ASCII"),
              breakChecksum = id % 29 == 0))
            val bin = Array.tabulate(50 + (id % 200).toInt)(i =>
              ((i * 7 + id) & 0xFF).toByte)
            o.write(Tar.encodeMember(s"doc$id.bin", bin))
            n += 1
          }
          outs.values.foreach(_._2.write(Tar.trailer))
          ok = true
        } finally outs.values.foreach { case (_, o) =>
          try o.close() catch { case _: java.io.IOException => () }
        }
        if (ok) outs.foreach { case (cls, (tmp, _)) =>
          java.nio.file.Files.move(tmp.toPath,
            new java.io.File(landing, f"shard_$cls%d.tar").toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        Iterator.single(n)
      }.reduce(_ + _) // forces the executor-side shard write
    require(written > 0, "qn23: no documents written")
    val members = s.read.format("binaryFile").option("pathGlobFilter", "*.tar")
      .load(landing)
      .select(col("content")).as[Array[Byte]]
      .flatMap(buf => Tar.walk(buf).map { m =>
        val id = m.name.stripPrefix("doc").takeWhile(_.isDigit).toLong
        (id, m.size, if (m.checksumOk) 1L else 0L)
      })
      .toDF("doc_id", "size", "ok")
    // exact shard byte sizes come from binaryFile METADATA (no second
    // content read); shard id parsed from the file name the writer laid
    val lengths = s.read.format("binaryFile").option("pathGlobFilter", "*.tar")
      .load(landing)
      .select(regexp_extract(col("path"), "shard_(\\d+)\\.tar$", 1)
        .cast("long").as("shard"),
        col("length").as("tar_bytes"))
    members
      .groupBy(pmod(col("doc_id"), lit(8L)).cast("long").as("shard"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("ok")).as("n_members_ok"),
        sum(lit(1L) - col("ok")).as("n_bad"),
        sum(when(col("ok") === 1L, col("size")).otherwise(0L))
          .as("payload_bytes"))
      .join(broadcast(lengths), Seq("shard"))
      .orderBy("shard")
  }

  /** qn21 — robots.txt crawl gate (RFC 9309): the compliance check that
    * sits in front of every fetch a crawl pipeline makes. A policy file
    * with two groups (a specific `graftbot` group carrying prefix,
    * `$`-anchored and `*`-wildcard rules with an Allow carve-out, and a
    * deny-all `*` fallback), comments and mixed-case field names is
    * parsed by the from-spec engine ([[graft.sources.Robots]]), and
    * every document's deterministic URL path is gated twice — once as
    * GraftBot (case-insensitive group selection; longest-pattern wins,
    * Allow wins ties) and once as an unknown crawler (the `*` deny-all
    * group must turn everything away). The oracle replays the verdicts
    * as pure doc_id arithmetic, so a precedence slip, a broken anchor,
    * or a group-selection miss shifts the per-source books.
    *
    * Scale shape: the parsed policy is a broadcast of a few rules; the
    * gate is per-row work against cached compiled patterns — scan
    * speed, one aggregate. */
  def qn21_robots_gate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Robots
    val policy =
      """# graft crawl policy
        |User-Agent: graftbot
        |Disallow: /private/
        |Allow: /private/doc/
        |Disallow: /doc/tmp$
        |Disallow: /*.bin
        |
        |User-agent: *
        |Disallow: /
        |""".stripMargin
    val bc = s.sparkContext.broadcast(Robots.parse(policy))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val g = bc.value
        it.map { case (id, source) =>
          val path =
            if (id % 20 == 3) "/doc/tmp" // the $-anchored rule, exactly
            else if (id % 20 == 13) "/doc/tmp2" // anchor must NOT fire
            else (id % 4) match {
              case 0 => s"/private/doc/$id" // Allow out-prefixes Disallow
              case 1 => s"/private/admin/$id" // prefix Disallow
              case 2 => s"/data/$id.bin" // wildcard Disallow
              case _ => s"/doc/$id" // no rule matches -> allowed
            }
          (source,
            if (Robots.allowed(g, "GraftBot", path)) 1L else 0L,
            if (Robots.allowed(g, "otherbot", path)) 1L else 0L)
        }
      }
      .toDF("source", "a", "ao")
      .groupBy("source")
      .agg(count(lit(1)).as("n_urls"), sum("a").as("n_allowed"),
        (count(lit(1)) - sum("a")).as("n_disallowed"),
        sum("ao").as("n_allowed_other"))
      .orderBy("source")
  }

  /** qn09 — CF-convention unpacking on import (`cf_unpack=yes`): a
    * packed file carrying `scale_factor`/`add_offset` variable
    * attributes imports as `raw*scale + offset`, next to an unpacked
    * import of the same file. The reference ingests raw values only —
    * this is the attribute-aware read path real climate files (packed
    * shorts) need. Scale 0.5 / offset 10 keep everything exact in
    * binary, so the oracle replays the arithmetic. */
  def qn09_cf_unpack(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val path = Files.createTempDirectory("graft_cf_q")
      .resolve("packed.nc").toString
    NetCDF3.writeDoubleVar(path, Seq("row" -> nRows, "col" -> nCols),
      "measure", data,
      attrs = Seq("scale_factor" -> 0.5, "add_offset" -> 10.0))
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=cfu;src_path=@$path;" +
      "measure=measure;explicit=1;cf_unpack=yes")
    ses.execute(s"operation=file_import;frag_name=cfraw;src_path=@$path;" +
      "measure=measure;explicit=1")
    val u = ses.execute(
      "operation=select;field=id_dim|measure;from=cfu;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_unpacked"))
    val raw = ses.execute(
      "operation=select;field=id_dim|measure;from=cfraw;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_raw"))
    raw.join(u, "id_dim").orderBy("id_dim")
  }

  /** qn04 — the ESDM-named operations (esdm_import /
    * create_frag_select_esdm, oph_io_server_query.c:72-105,341-375) with
    * their read-stream reduction (sub_operation/sub_args,
    * oph_io_server_esdm.c:1890-1899): the qn02 grid imported twice, once
    * bulk with a max-8 reduce-on-read, once CTAS with an avg-8 reduce,
    * joined on id_dim. */
  def qn04_esdm_import(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val tmpDir = Files.createTempDirectory("graft_esdm")
    val path = tmpDir.resolve("grid.nc").toString
    NetCDF3.writeDoubleVar(path, Seq("row" -> nRows, "col" -> nCols),
      "measure", data)
    val ses = new IoServer(s).newSession()
    // the bulk import names the container with the reference's esdm://
    // URI scheme (oph_io_server_esdm.c:2043); the absolute form needs
    // no graft.esdm.root, so concurrent queries cannot race a global
    ses.execute(s"operation=esdm_import;frag_name=em;src_path=@esdm://$path;" +
      "measure=measure;explicit=1;sub_operation=max;sub_args=8")
    ses.execute(s"operation=create_frag_select_esdm;frag_name=ea;" +
      "field=id_dim|measure;field_alias=id_dim|measure;" +
      s"from=@$path;measure=measure;explicit=1;" +
      "sub_operation=avg;sub_args=8;" +
      "where=oph_is_in_subset(id_dim,1,1,99999)")
    val mx = ses.execute(
      "operation=select;field=id_dim|measure;from=em;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_max"))
    val av = ses.execute(
      "operation=select;field=id_dim|measure;from=ea;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_avg"))
    mx.join(av, "id_dim").orderBy("id_dim")
  }

  /** qn05 — the two remaining real-world netCDF-4 file shapes: (a) a
    * dense-link group (creation-order tracking pushes >8 variables into
    * a fractal heap + name-index v2 B-tree instead of a symbol table)
    * and (b) an HDF5 1.10+ "latest" file (superblock v3, OHDR v2,
    * layout message v4 with a fixed-array chunk index). Both carry the
    * qn02 grid as a chunked+deflate measure among 9 decoy coordinate
    * variables; both go through file_import → the format-sniffing DSv2
    * reader and are joined on id_dim (reference NetCDF-4 dispatch:
    * oph_io_server_nc.c:1612,2716-3243). A third twin carries an
    * UNLIMITED row dim (extensible-array chunk index — what libver=
    * latest emits for the unlimited-time climate shape; reference
    * `dim_unlim`, oph_io_server_query_blocks.c:1167-1367). */
  def qn05_hdf5_dense_v4(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val decoys = (0 until 9).map(i => graft.sources.HDF5.H5Var(
      f"coord$i%02d", Seq("t" -> 4), Array.tabulate(4)(j => i + j * 0.25)))
    val measure = graft.sources.HDF5.H5Var("measure",
      Seq("row" -> nRows, "col" -> nCols), data,
      chunkDims = Some(Seq(16, 8))) // ragged edge chunks
    val tmp = Files.createTempDirectory("graft_h5x")
    val densePath = tmp.resolve("dense.h5").toString
    val latestPath = tmp.resolve("latest.h5").toString
    val unlimPath = tmp.resolve("unlim.h5").toString
    graft.sources.HDF5.writeDoubleVarsDense(densePath, decoys :+ measure)
    graft.sources.HDF5.writeLatestVars(latestPath, decoys :+ measure,
      index = "fixedarray")
    // unlimited row dim: 8-row chunks -> 8 chunks, 4 inline in the EAIB
    // + 4 spilling into the first EADB data block
    graft.sources.HDF5.writeLatestVars(unlimPath, decoys :+ measure.copy(
      chunkDims = Some(Seq(8, 8))), index = "extarray")
    // PAGED extensible array: (1,2) chunks make a 60x4=240-chunk grid;
    // with eaDataBlkMin=4/eaPageBits=4 generation 5 (32 elements > 16
    // per page) is secondary-block-addressed and paged — chunks 128..239
    // are resolved through checksummed pages + the EASB page-init bitmap
    val pagedPath = tmp.resolve("paged.h5").toString
    graft.sources.HDF5.writeLatestVars(pagedPath, decoys :+ measure.copy(
      chunkDims = Some(Seq(1, 2))), index = "extarray",
      eaPageBits = 4, eaDataBlkMin = 4)
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=dn;src_path=@$densePath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=lt;src_path=@$latestPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=un;src_path=@$unlimPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=pg;src_path=@$pagedPath;" +
      "measure=measure;explicit=1")
    val dn = ses.execute(
      "operation=select;field=id_dim|measure;from=dn;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_dense"))
    val lt = ses.execute(
      "operation=select;field=id_dim|measure;from=lt;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_latest"))
    val un = ses.execute(
      "operation=select;field=id_dim|measure;from=un;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_unlim"))
    val pg = ses.execute(
      "operation=select;field=id_dim|measure;from=pg;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_paged"))
    dn.join(lt, "id_dim").join(un, "id_dim").join(pg, "id_dim")
      .orderBy("id_dim")
  }

  /** qn10 — unlimited-dimension APPEND shape (the reference's `dim_unlim`
    * import capability, oph_query_engine_language.h:85-89; unlimited-dim
    * NetCDF-4 import in oph_io_server_nc.c:2716-3243): a time×8 series
    * written through the HDF5 1.10 "latest" writer with dim 0 declared
    * H5S_UNLIMITED and the extensible-array chunk index — once at 40
    * time steps and once re-written at 100 steps, i.e. the same dataset
    * before and after an append along time. Both files import through
    * `file_import`; the 40-step frame must be an exact prefix of the
    * 100-step frame (LEFT join on id_dim), and the appended tail must
    * read correctly. With (1,8) chunks and eaDataBlkMin=4/eaPageBits=4
    * the grown file's 100-chunk grid walks every EA addressing tier:
    * 4 inline EAIB elements, index-block direct data blocks
    * (generations 0-3), then PAGED data blocks behind an EASB secondary
    * block (generation 4+) — while the 40-step file stops at the direct
    * tier, so the prefix equality check crosses addressing tiers. */
  def qn10_hdf5_unlimited_append(s: SparkSession, dir: String): DataFrame = {
    val nCols = 8
    def series(nT: Int): Array[Double] =
      Array.tabulate(nT * nCols)(k =>
        (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    def mkVar(nT: Int) = graft.sources.HDF5.H5Var("measure",
      Seq("time" -> nT, "col" -> nCols), series(nT),
      chunkDims = Some(Seq(1, nCols)))
    val tmp = Files.createTempDirectory("graft_h5unlim")
    val beforePath = tmp.resolve("series_t40.h5").toString
    val afterPath = tmp.resolve("series_t100.h5").toString
    graft.sources.HDF5.writeLatestVars(beforePath, Seq(mkVar(40)),
      index = "extarray", eaPageBits = 4, eaDataBlkMin = 4)
    graft.sources.HDF5.writeLatestVars(afterPath, Seq(mkVar(100)),
      index = "extarray", eaPageBits = 4, eaDataBlkMin = 4)
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=t40;src_path=@$beforePath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=t100;src_path=@$afterPath;" +
      "measure=measure;explicit=1")
    val before = ses.execute(
      "operation=select;field=id_dim|measure;from=t40;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_before"))
    val after = ses.execute(
      "operation=select;field=id_dim|measure;from=t100;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_after"))
    after.join(before, Seq("id_dim"), "left")
      .select(col("id_dim"), col("m_after"),
        coalesce(col("m_before"), lit("")).as("m_before"),
        when(col("m_before").isNotNull, lit(1L)).otherwise(lit(0L))
          .as("in_before"))
      .orderBy("id_dim")
  }

  /** qn06 — CDF-5 (the PnetCDF 64-bit-data classic variant): the qn02
    * grid written as CDF-5 and CDF-1, both through file_import → the
    * DSv2 reader, joined on id_dim. Proves the widened NON_NEG header
    * fields parse to the same bytes the CDF-1 path reads. */
  def qn06_cdf5_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val tmp = Files.createTempDirectory("graft_cdf5")
    val c1Path = tmp.resolve("twin1.nc").toString
    val c5Path = tmp.resolve("twin5.nc").toString
    NetCDF3.writeDoubleVar(c1Path, Seq("row" -> nRows, "col" -> nCols),
      "measure", data)
    NetCDF3.writeDoubleVar(c5Path, Seq("row" -> nRows, "col" -> nCols),
      "measure", data, version = 5)
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=c1;src_path=@$c1Path;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=c5;src_path=@$c5Path;" +
      "measure=measure;explicit=1")
    val a = ses.execute(
      "operation=select;field=id_dim|measure;from=c1;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_cdf1"))
    val b = ses.execute(
      "operation=select;field=id_dim|measure;from=c5;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_cdf5"))
    a.join(b, "id_dim").orderBy("id_dim")
  }

  /** qn14 — Fletcher-32 checksummed NetCDF-4 import: the EDC filter
    * (id 3, H5Pset_fletcher32's default in checksummed scientific
    * archives) sits at the END of the write pipeline, so the reader
    * VERIFIES every stored chunk's trailing Fletcher-32 before
    * inflating — silent bit-rot in an archive file becomes a loud
    * per-chunk error instead of wrong numbers (HDF5Spec pins the
    * corruption case). Two index flavors cross-check the same 60×8
    * grid: fixed-array and v2-B-tree, both deflate+fletcher32 chunks
    * with ragged edges. Reference semantics: esdm/netcdf import
    * (oph_io_server file_import) over checksummed NetCDF-4.
    *
    * Scale shape: identical to qn05 — the DSv2 reader hands each
    * executor its own chunk ranges; checksum verification is a
    * per-chunk scan-side pass (one Fletcher fold per stored byte). */
  def qn14_fletcher_import(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (60, 8)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125) // exact in binary
    val measure = graft.sources.HDF5.H5Var("measure",
      Seq("row" -> nRows, "col" -> nCols), data,
      chunkDims = Some(Seq(16, 5))) // ragged in BOTH dims
    val tmp = Files.createTempDirectory("graft_h5ck")
    val faPath = tmp.resolve("fa_ck.h5").toString
    val btPath = tmp.resolve("bt_ck.h5").toString
    graft.sources.HDF5.writeLatestVars(faPath, Seq(measure),
      index = "fixedarray", fletcher = true)
    graft.sources.HDF5.writeLatestVars(btPath, Seq(measure),
      index = "btree2", fletcher = true)
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=fa;src_path=@$faPath;" +
      "measure=measure;explicit=1")
    ses.execute(s"operation=file_import;frag_name=bt;src_path=@$btPath;" +
      "measure=measure;explicit=1")
    val fa = ses.execute(
      "operation=select;field=id_dim|measure;from=fa;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_fa_ck"))
    val bt = ses.execute(
      "operation=select;field=id_dim|measure;from=bt;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m_bt_ck"))
    fa.join(bt, "id_dim").orderBy("id_dim")
  }

  /** qn16 — variable-length STRING labels through the HDF5 global
    * heap: the CF station-name/label-vector convention (h5py/netCDF-4
    * `str` variables) stores each element as a 16-byte global-heap ID
    * and the bytes in GCOL collections — a file-format lane (datatype
    * class 9, spec III.E) the reader previously rejected. The fixture
    * writes a 40×4 measure plus a 40-long label vector through
    * [[graft.sources.HDF5.writeVarsWithStringLabels]], imports the
    * measure through the NORMAL file_import path (the extra string
    * dataset must not disturb it), reads the labels back via
    * [[graft.sources.HDF5.Hdf5Reader.readStringVar]] and joins them to
    * the fragment rows.
    *
    * Scale posture: label vectors are DIMENSION-scale metadata (one
    * entry per coordinate index, not per cell), so the driver-side
    * read + broadcast join is the right shape at any data size — the
    * measure itself still flows through the distributed import. */
  def qn16_vlen_labels(s: SparkSession, dir: String): DataFrame = {
    val (nRows, nCols) = (40, 4)
    val data = Array.tabulate(nRows * nCols)(k =>
      (k / nCols) * 0.5 + (k % nCols) * 0.125)
    val labels = (0 until nRows).map(i => s"st${i}_${(i * 7919 + 13) % 97}")
    val tmp = Files.createTempDirectory("graft_h5vl")
    val path = tmp.resolve("labeled.h5").toString
    graft.sources.HDF5.writeVarsWithStringLabels(path,
      Seq(graft.sources.HDF5.H5Var("measure",
        Seq("row" -> nRows, "col" -> nCols), data)), "station", labels)
    val ses = new IoServer(s).newSession()
    ses.execute(s"operation=file_import;frag_name=st;src_path=@$path;" +
      "measure=measure;explicit=1")
    val meas = ses.execute(
      "operation=select;field=id_dim|measure;from=st;order=id_dim").get
      .select(col("id_dim"), AP.fx12(col("measure")).as("m"))
    val lblDf = {
      val r = new graft.sources.HDF5.Hdf5Reader(path, s.sparkContext.hadoopConfiguration)
      val ls = try r.readStringVar("station") finally r.close()
      import s.implicits._
      ls.zipWithIndex.map { case (l, i) => (i + 1L, l) }
        .toDF("id_dim", "station")
    }
    meas.join(broadcast(lblDf), "id_dim")
      .select("id_dim", "station", "m")
      .orderBy("id_dim")
  }

  /** qn18 — MULTI-FILE NetCDF aggregation import (the ncrcat /
    * open_mfdataset shape): the embeddings grid is written as THREE
    * classic CDF files with different record counts (a quarter, a
    * half, the rest), then imported through ONE DSv2 scan with
    * `paths=a|b|c` — the files concatenate along the record dimension,
    * each file's record count comes from its header (a metadata-only
    * driver pass), and global id_dim offsets are the prefix sums, so
    * the keying is identical to one concatenated file. An id_dim
    * predicate lands in the source and prunes file 1 ENTIRELY at
    * planning (its bytes are never opened — NetCDFSpec pins the
    * partition count); every surviving partition reads exactly one
    * file. This is the 100 TB archive layout: one file per day/month/
    * ensemble member, imported as one logical array without a concat
    * preprocessing pass. Reference anchor: OPH_IMPORTNC reads one file
    * per operator call (oph_io_server_nc.c:2716-3243); the multi-file
    * resolve generalizes it the way NCO's ncrcat does, with the
    * file→offset map derived from headers, not trusted input. */
  def qn18_multifile_import(s: SparkSession, dir: String): DataFrame = {
    val (n, _, it) = ExportScan.ordered(Tables.embeddings(s, dir), "vec_id", "embedding")
    val tmp = Files.createTempDirectory("graft_mfnc")
    val sizes = Seq(n / 4, n / 2, n - n / 4 - n / 2)
    val paths = sizes.zipWithIndex.map { case (cnt, i) =>
      val p = tmp.resolve(s"part$i.nc").toString
      NetCDF3.writeDoubleVarStreamed(p, Seq("row" -> cnt, "x" -> 64),
        "measure", it.take(cnt))
      p
    }
    s.read.format("graft.sources.NetCDFSource")
      .option("paths", paths.mkString("|"))
      .option("var", "measure")
      .option("partitions", "8")
      .load()
      // global row n/4 is exactly the file-1/file-2 boundary: the
      // pushed range excludes file 1, whose partitions are never planned
      .filter(col("id_dim") > (n / 4).toLong)
      .select(col("id_dim"), AP.fx12(col("measure")).as("measure"))
      .orderBy("id_dim")
  }

  /** qn19 — HDF5 COMPOUND datatype import (the record/event-table
    * shape: particle physics, telemetry — one struct per element
    * instead of one scalar): the events table is written as a 1-D
    * compound dataset {event_id i64, user_id i64, value f64} through
    * [[graft.sources.HDF5.writeCompound1D]] (datatype message class 6,
    * version-1 member layout), read back through the recursive
    * datatype parser ([[graft.sources.HDF5.parseDtypeAt]], which also
    * serves the version-2/3 member layouts real h5py files carry), and
    * compared field-for-field against the source rows. Like qn16's
    * vlen labels this is a driver-side reader path — record tables at
    * data scale would extend the DSv2 source with a row-window
    * compound decoder, the same seam the numeric path uses.
    * Reference anchor: OPH_IMPORTNC reads scalar vars only
    * (oph_io_server_nc.c:2716) — compound support is what lets the
    * engine ingest event-table HDF5 without a preprocessing pass. */
  def qn19_compound_import(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import graft.sources.HDF5
    // the single-file compound round trip is inherently driver-side
    // (like qn01's export); the written subset is AutoScale-bounded to
    // ~100k records so the fixture cost cannot grow linearly with the
    // corpus (first probe measured 15.7 s at 26x unbounded) — the
    // modulus is 1 at both oracle SFs, so gate outputs are unchanged
    val nEv = Tables.events(s, dir).count()
    val m = math.max(1L, nEv / 100000L)
    val ev = Tables.events(s, dir)
      .filter(col("event_id") % m === 0L)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy("event_id")
    val rows = ev.toLocalIterator().asScala
      .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val path = Files.createTempDirectory("graft_cmp")
      .resolve("events.h5").toString
    HDF5.writeCompound1D(path, "events",
      Seq("event_id" -> 'l', "user_id" -> 'l', "value" -> 'd'), rows)
    val rd = new HDF5.Hdf5Reader(path, s.sparkContext.hadoopConfiguration)
    val (ms, got) = try rd.readCompoundVar("events") finally rd.close()
    require(ms.map(_.name) == Seq("event_id", "user_id", "value"),
      s"member table mismatch: ${ms.map(_.name)}")
    import s.implicits._
    got.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
        math.floor(r(2).asInstanceOf[Double] * 1e6).toLong))
      .toDF("event_id", "user_id", "value_fp")
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qn19_compound_import" -> (qn19_compound_import _),
    "qn18_multifile_import" -> (qn18_multifile_import _),
    "qn16_vlen_labels" -> (qn16_vlen_labels _),
    "qn14_fletcher_import" -> (qn14_fletcher_import _),
    "qn01_netcdf_roundtrip" -> (qn01_netcdf_roundtrip _),
    "qn02_netcdf4_roundtrip" -> (qn02_netcdf4_roundtrip _),
    "qn03_zarr_roundtrip" -> (qn03_zarr_roundtrip _),
    "qn04_esdm_import" -> (qn04_esdm_import _),
    "qn05_hdf5_dense_v4" -> (qn05_hdf5_dense_v4 _),
    "qn06_cdf5_roundtrip" -> (qn06_cdf5_roundtrip _),
    "qn07_zarr_v3_roundtrip" -> (qn07_zarr_v3_roundtrip _),
    "qn08_export_formats" -> (qn08_export_formats _),
    "qn09_cf_unpack" -> (qn09_cf_unpack _),
    "qn10_hdf5_unlimited_append" -> (qn10_hdf5_unlimited_append _),
    "qn11_export_distributed" -> (qn11_export_distributed _),
    "qn12_export_dist_indexed" -> (qn12_export_dist_indexed _),
    "qn15_export_dist_ea" -> (qn15_export_dist_ea _),
    "qn17_export_dist_filtered" -> (qn17_export_dist_filtered _),
    "qn13_jsonl_quarantine" -> (qn13_jsonl_quarantine _),
    "qn20_warc_ingest" -> (qn20_warc_ingest _),
    "qn21_robots_gate" -> (qn21_robots_gate _),
    "qn22_warc_revisit" -> (qn22_warc_revisit _),
    "qn23_webdataset_tar" -> (qn23_webdataset_tar _),
  )

  val oracles: Map[String, String] = Map(
    // the 512-byte ustar block arithmetic replayed closed-form:
    // per member 512 header + 512·⌈len/512⌉ data, per shard + 1024
    // trailer; the quarantined .txt members (doc_id % 29 = 0)
    // contribute bytes but neither the ok-count nor the payload sum
    "qn23_webdataset_tar" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
           length(text) AS tl, 50 + doc_id % 200 AS bl,
           CASE WHEN doc_id % 29 = 0 THEN 1 ELSE 0 END AS bad
         FROM documents)
         SELECT CAST(shard AS BIGINT) AS shard,
           count(*)::BIGINT AS n_docs,
           CAST(sum(2 - bad) AS BIGINT) AS n_members_ok,
           CAST(sum(bad) AS BIGINT) AS n_bad,
           CAST(sum(CASE WHEN bad = 0 THEN tl ELSE 0 END) + sum(bl)
             AS BIGINT) AS payload_bytes,
           CAST(sum(1024 + 512 * ((tl + 511) // 512)
             + 512 * ((bl + 511) // 512)) + 1024 AS BIGINT) AS tar_bytes
         FROM d GROUP BY shard ORDER BY shard""",
    // the gate verdicts replayed as doc_id arithmetic: which path class
    // a doc gets and what the precedence rules decide for it are both
    // deterministic; the unknown-crawler column is the deny-all group
    "qn21_robots_gate" ->
      """SELECT source, count(*)::BIGINT AS n_urls,
           sum(a)::BIGINT AS n_allowed,
           (count(*) - sum(a))::BIGINT AS n_disallowed,
           CAST(0 AS BIGINT) AS n_allowed_other
         FROM (SELECT source,
             CASE WHEN doc_id % 20 = 3 THEN 0
                  WHEN doc_id % 20 = 13 THEN 1
                  WHEN doc_id % 4 = 0 THEN 1
                  WHEN doc_id % 4 = 1 THEN 0
                  WHEN doc_id % 4 = 2 THEN 0
                  ELSE 1 END AS a
           FROM documents)
         GROUP BY source ORDER BY source""",
    // the revisit books as doc_id arithmetic: every doc yields one
    // response, every % 23 doc one revisit whose digest MUST verify
    // (n_verified pinned to the full revisit count — a framing slip
    // between writer and reader breaks the digest match), and
    // bytes_saved is the un-refetched payload via the synth length
    // decomposition
    "qn22_warc_revisit" -> {
      def encLen(c: String) =
        s"length(replace(replace(replace(replace($c,'&','&amp;')," +
          "'<','&lt;'),'>','&gt;'),'\"','&quot;'))"
      s"""SELECT CAST(doc_id % 8 AS BIGINT) AS shard,
         CAST(count(*) AS BIGINT) AS n_response,
         CAST(sum(CASE WHEN doc_id % 23 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_revisit,
         CAST(sum(CASE WHEN doc_id % 23 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_verified,
         CAST(sum(CASE WHEN doc_id % 23 = 0 THEN
             ${graft.sources.Html.synthFixedLen}
             + 3 * length(CAST(doc_id AS VARCHAR))
             + ${encLen("text")} + ${encLen("source")} + ${encLen("lang")}
           ELSE 0 END) AS BIGINT) AS bytes_saved
         FROM documents GROUP BY 1 ORDER BY shard"""
    },
    // predicts the WARC walk's books from the parquet alone: quarantine
    // membership is a pure doc_id function, and each good page's byte
    // length is the synth template constant (interpolated from
    // Html.synthFixedLen, the entLut embed idiom) + 3·len(str(id)) +
    // the entity-escaped input lengths — replace & FIRST, exactly as
    // Html.enc does, or escaping an escape double-counts
    "qn20_warc_ingest" -> {
      def encLen(c: String) =
        s"length(replace(replace(replace(replace($c,'&','&amp;')," +
          "'<','&lt;'),'>','&gt;'),'\"','&quot;'))"
      s"""SELECT CAST(doc_id % 8 AS BIGINT) AS shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_good,
         CAST(sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quarantined,
         CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN
             ${graft.sources.Html.synthFixedLen}
             + 3 * length(CAST(doc_id AS VARCHAR))
             + ${encLen("text")} + ${encLen("source")} + ${encLen("lang")}
           ELSE 0 END) AS BIGINT) AS html_bytes
         FROM documents GROUP BY 1 ORDER BY shard"""
    },
    // same 60×8 synthetic grid as qn05, read back through checksummed
    // chunks — the oracle only models the VALUES; the EDC verification
    // lives Spark-side (a corrupt chunk errors instead of mismatching)
    // labels and values are pure functions of the row index, so the
    // oracle never touches HDF5 — a heap ID resolved to the wrong GCOL
    // object, or an import disturbed by the extra string dataset, both
    // break the hash
    "qn16_vlen_labels" ->
      """SELECT i AS id_dim,
         'st' || (i-1)::VARCHAR || '_' ||
           (((i-1) * 7919 + 13) % 97)::VARCHAR AS station,
         array_to_string(list_transform(range(0, 4),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)),
           ',') AS m
         FROM range(1, 41) t(i)
         ORDER BY id_dim""",
    "qn14_fletcher_import" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_fa_ck,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_bt_ck
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    // predicts the ingest outcome from the parquet alone: which lines
    // were corrupted is a pure doc_id function, so the oracle never
    // parses JSON — if the permissive reader drops, duplicates, or
    // misparses any row, the books stop balancing
    "qn13_jsonl_quarantine" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           CAST(0 AS BIGINT) AS n_corrupt
         FROM documents WHERE doc_id % 13 <> 0 GROUP BY source
         UNION ALL
         SELECT '_quarantine', CAST(count(*) AS BIGINT),
           CAST(0 AS BIGINT), CAST(count(*) AS BIGINT)
         FROM documents WHERE doc_id % 13 = 0
         ORDER BY source""",
    "qn12_export_dist_indexed" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_fixedarray,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_btree2,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_seq
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn17_export_dist_filtered" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_fa_z,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_bt2_z,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_ea_z,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_seq,
         CAST(1 AS BIGINT) AS z_smaller
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn15_export_dist_ea" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_extarray,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_seq
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn11_export_distributed" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_dist,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_seq
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn10_hdf5_unlimited_append" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_after,
         CASE WHEN i <= 40 THEN array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           ELSE '' END AS m_before,
         CAST(CASE WHEN i <= 40 THEN 1 ELSE 0 END AS BIGINT) AS in_before
         FROM range(1, 101) t(i)
         ORDER BY id_dim""",
    // the compound round trip must preserve every field of every row;
    // the modulus is the engine's AutoScale bound (1 at the oracle SFs)
    "qn19_compound_import" ->
      """SELECT event_id, user_id,
         CAST(floor(value * 1e6) AS BIGINT) AS value_fp
         FROM events
         WHERE event_id %
           (SELECT greatest(1, count(*) // 100000) FROM events) = 0
         ORDER BY event_id""",
    // the three files concatenate to the original grid; the id window
    // replays as a count-derived predicate (the AutoScale discipline)
    "qn18_multifile_import" ->
      """SELECT vec_id + 1 AS id_dim,
         array_to_string(list_transform(embedding,
           x -> CAST(floor(x::DOUBLE * 1e12) AS BIGINT)), ',') AS measure
         FROM embeddings
         WHERE vec_id + 1 > (SELECT count(*) // 4 FROM embeddings)
         ORDER BY id_dim""",
    "qn01_netcdf_roundtrip" ->
      """SELECT vec_id + 1 AS id_dim,
         coalesce(array_to_string(list_transform(
           list_transform(range(0, 8), b ->
             list_reduce(list_transform(embedding[b*8+1 : b*8+8], x -> x::DOUBLE),
               (x,y) -> x+y) / 8.0),
           v -> CAST(floor(v * 1e12) AS BIGINT)), ','), '') AS measure
         FROM embeddings
         WHERE vec_id % 2 = 0
         ORDER BY id_dim""",
    "qn02_netcdf4_roundtrip" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_cdf,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_hdf5
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn03_zarr_roundtrip" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_cdf,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_zarr,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_blosclz,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_bitshuf,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_zstd
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn09_cf_unpack" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_raw,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor((((i-1) * 0.5 + j * 0.125) * 0.5 + 10.0) * 1e12)
             AS BIGINT)), ',') AS m_unpacked
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn08_export_formats" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_hdf5,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_zarr,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_sharded
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn07_zarr_v3_roundtrip" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_cdf,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_zarr
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn04_esdm_import" ->
      """SELECT i AS id_dim,
         CAST(floor(((i-1) * 0.5 + 0.875) * 1e12) AS BIGINT)::VARCHAR
           AS m_max,
         CAST(floor(((i-1) * 0.5 + 0.4375) * 1e12) AS BIGINT)::VARCHAR
           AS m_avg
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn05_hdf5_dense_v4" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_dense,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_latest,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_unlim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_paged
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
    "qn06_cdf5_roundtrip" ->
      """SELECT i AS id_dim,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_cdf1,
         array_to_string(list_transform(range(0, 8),
           j -> CAST(floor(((i-1) * 0.5 + j * 0.125) * 1e12) AS BIGINT)), ',')
           AS m_cdf5
         FROM range(1, 61) t(i)
         ORDER BY id_dim""",
  )
}
