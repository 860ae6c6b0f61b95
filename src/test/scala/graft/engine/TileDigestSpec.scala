package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.{Fs, JobConfig}
import graft.sinks.TileSink
import graft.synth.SynthDem
import java.nio.file.{Files, Paths}

/** Byte identity of the binary sinks on a self-made input: the SHA-256 of
  * every tile file `runResumable` writes for one SynthDem SRTM3 tile at
  * the reference's PACA anchor (step 10, RDP 1e-5), chopped at 250 k nodes
  * per tile (16 tiles). The digests were taken from the row-at-a-time
  * writer; any change to the encoders, the tile order or the id prefix sum
  * that moves a single byte fails here. */
class TileDigestSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("tile-digest-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = JobConfig(contourStepSize = 10, rdpEpsilon = Some(0.00001), maxNodesPerTile = 250000L)

  private def sha256(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(path))).map(b => f"${b & 0xff}%02x").mkString

  /** file name -> SHA-256 of every tile file of one fresh run. */
  private def digests(format: String): Map[String, String] = {
    val dir = Files.createTempDirectory("tile-digest").toString
    try {
      val dem = SynthDem.writeHgt(s"$dir/dem", 43, 6)
      val report = RasterPipeline.runResumable(spark, Seq(dem), s"$dir/out", cfg, format)
      assert(report.tilesTotal == 16 && report.tilesWritten == 16 && report.tilesSkipped == 0)
      report.files.map(f => Paths.get(f).getFileName.toString -> sha256(f)).toMap
    } finally Fs.deleteRecursive(dir)
  }

  test("PBF tile files are byte-identical to the pinned digests") {
    assert(digests(TileSink.PbfFormat) == Map(
      "lon6.00_7.00lat43.00_43.06_N43E006.osm.pbf" ->
        "e0151b6f9a0a1682a3fc8ef9ac048cd723e0854563e575476bc720ea55fe533e",
      "lon6.00_7.00lat43.06_43.13_N43E006.osm.pbf" ->
        "966d06c99e88005dc1acf03d834d249a79d52230e42500be20d67aca20abd06f",
      "lon6.00_7.00lat43.13_43.19_N43E006.osm.pbf" ->
        "b2675d5d53fb3260f2d84fddf9db7d312e9350cbbd60f042a232486fc86e03a1",
      "lon6.00_7.00lat43.19_43.25_N43E006.osm.pbf" ->
        "8cd302d2d3ba776c700e693383383565d4fc67d679bafb5dd20a9e32650ff6ea",
      "lon6.00_7.00lat43.25_43.31_N43E006.osm.pbf" ->
        "b6647a588881caff5ca500b7d071205a4d8b9926fe183fb7611fb3a710aca0a8",
      "lon6.00_7.00lat43.31_43.38_N43E006.osm.pbf" ->
        "163439d0c4e01dca5d46d7863804ea1ee46305070e7d51b770c590c23139d11c",
      "lon6.00_7.00lat43.38_43.44_N43E006.osm.pbf" ->
        "954c143af112a9dc33cd9e9c276ae045b5352ddc7556c89698db4f9997d4be2a",
      "lon6.00_7.00lat43.44_43.50_N43E006.osm.pbf" ->
        "294af55dc78903a06453067a883fe77e4ff3860ca2d6279bbb2f8d651606b28b",
      "lon6.00_7.00lat43.50_43.56_N43E006.osm.pbf" ->
        "65a9c6e08929942235670df05b58d0783df3bc67cc94503f1ca8938eabb24093",
      "lon6.00_7.00lat43.56_43.63_N43E006.osm.pbf" ->
        "4fc3e3cd6e6a577ff2da8dc1a90bc07c504312f4e334a30b3ef10d2c91506eb0",
      "lon6.00_7.00lat43.63_43.69_N43E006.osm.pbf" ->
        "bfde1b90707056b9c819ad2f930a69ce1cede61cb5a70269a753e8d71df16d5e",
      "lon6.00_7.00lat43.69_43.75_N43E006.osm.pbf" ->
        "de68e518be8b1959fd00add96b12ac5926aec78bca5e51e586edf7ce21463876",
      "lon6.00_7.00lat43.75_43.81_N43E006.osm.pbf" ->
        "1fae9c467003ce6b18e3323de32e56d15e9863f215f140ec6cefe6d6f9572978",
      "lon6.00_7.00lat43.81_43.88_N43E006.osm.pbf" ->
        "fc628b8c7c237925b0a49c3e1d56246c1a8c0467aae3ed563a86c9037f8aa3d6",
      "lon6.00_7.00lat43.88_43.94_N43E006.osm.pbf" ->
        "4db105b7789ef70b37c91985f4a795d13cec0d95456e5a5c9b2bb20918d4ff48",
      "lon6.00_7.00lat43.94_44.00_N43E006.osm.pbf" ->
        "31751ad42511b368aeef86f04ac465a14a9ef1f710ee7398f83eb0a5f49d5b68"))
  }

  test("o5m tile files are byte-identical to the pinned digests") {
    assert(digests(TileSink.O5mFormat) == Map(
      "lon6.00_7.00lat43.00_43.06_N43E006.o5m" ->
        "6a18f25ff1d0de2f309d0b5ef11afc06d4c8fd6885cc61cc22a5b8b56cb70dc5",
      "lon6.00_7.00lat43.06_43.13_N43E006.o5m" ->
        "f533f44f815d440a39b0c2df348f8dbf17a8f0d5a3b54546f7a28c488962cacc",
      "lon6.00_7.00lat43.13_43.19_N43E006.o5m" ->
        "d307b0a54ef1a7e4a34da3ac59314e3b9a29b927ab91b2adf5f1cb4039ff479f",
      "lon6.00_7.00lat43.19_43.25_N43E006.o5m" ->
        "079c732aa401e8d7bc52a7b58f95e7d50fb48ddc8be16ceaa68f91307caee3a2",
      "lon6.00_7.00lat43.25_43.31_N43E006.o5m" ->
        "afc4d913dfaeba21e42510ea045acb653177c725d63f251b386cdfca52b68bad",
      "lon6.00_7.00lat43.31_43.38_N43E006.o5m" ->
        "bf1b38190fca80fa28b3eead8abef144142d298bbe6c9422abacc96bb8b7cb14",
      "lon6.00_7.00lat43.38_43.44_N43E006.o5m" ->
        "0788be477032cdeb15b018f9f3ff2232b98f1953813bf8079e6b4a8e2c83a45b",
      "lon6.00_7.00lat43.44_43.50_N43E006.o5m" ->
        "91477b762138bf8f7b50e8660176c411031a6e4e7c36fd2f4391ffc018a7909f",
      "lon6.00_7.00lat43.50_43.56_N43E006.o5m" ->
        "6e3ec632c1cb48f3fd8994dacce65428f43998ece60fdbc0e2de9e7ebe403e19",
      "lon6.00_7.00lat43.56_43.63_N43E006.o5m" ->
        "5a5e52abdbf73fa30621ae7e3c69e7a44358d480e3a6a6f02faca5d75aeea9ee",
      "lon6.00_7.00lat43.63_43.69_N43E006.o5m" ->
        "57044005651584aace49ddbae9b1cde2254a63e80cd97b406dc0c96b66b398ae",
      "lon6.00_7.00lat43.69_43.75_N43E006.o5m" ->
        "db9a5a07f003fc141db6c8e5eb43fb97b60d51468bb6278922000c5d709f2c7d",
      "lon6.00_7.00lat43.75_43.81_N43E006.o5m" ->
        "8511556794a2bd0b7047b1348e42ff12707e76563b8f76063e13f515efe10bdc",
      "lon6.00_7.00lat43.81_43.88_N43E006.o5m" ->
        "d69393af4b899f2f196f061dd246e2578f67d212ea0ad28f1b9c45e5d7346a65",
      "lon6.00_7.00lat43.88_43.94_N43E006.o5m" ->
        "9581948a742b7de676666ee72ad63a6453e42fbb676eed6f7dbedb5503c3bcdd",
      "lon6.00_7.00lat43.94_44.00_N43E006.o5m" ->
        "92ca020d9f2122299afa3610bd65c07d069fb91dc4101ba0b86189d624c25c08"))
  }
}
