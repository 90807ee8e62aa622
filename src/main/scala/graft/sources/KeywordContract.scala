package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The FITS keyword schema-contract table — reference
  * `etc/decam_src_keywords.txt` (264 rows, consumed by the ingest
  * validator at `bin/save_DBB_stagein_to_DBB.py:158,212-215`), modeled as
  * data instead of hardcoded keyword lists.
  *
  * Each row is `(keyword, primaryFlag, extensionFlag)` with flags in
  * {Y, N, R}: Y = expected, N = not expected, R = REQUIRED in that HDU
  * kind — a file whose primary header misses an `R`-primary keyword (or
  * whose extension headers miss an `R`-extension keyword) is rejected.
  *
  * The table is embedded verbatim (including the reference's two literal
  * duplicate rows) so the contract is versioned with the code; in a
  * deployment it would load from a config path the same way. At 264 rows
  * this is a broadcast dimension: joins against it never shuffle the fact
  * side, and the derived required-keyword sets are driver-side constants
  * (literal arrays), which is the degenerate-but-optimal broadcast.
  */
object KeywordContract {

  final case class Entry(keyword: String, primary: String, extension: String)

  private val raw: String = "AIRMASS,Y,N;AMBTEMP,Y,N;AMPSECA,N,R;AMPSECB,N,R;AOS,Y,N;BCAMAX,Y,N;" +
    "BCAMAY,Y,N;BCAMAZ,Y,N;BCAMDX,Y,N;BCAMDY,Y,N;BCAM,Y,N;BIASSECA,N,R;" +
    "BIASSECB,N,R;BITPIX,Y,Y;BSCALE,N,Y;BUNIT,N,Y;BZERO,N,Y;CAMSHUT,Y,N;" +
    "CCDBIN1,N,Y;CCDBIN2,N,Y;CCDNUM,N,Y;CCDSECA,N,Y;CCDSECB,N,Y;" +
    "CCDSEC,N,Y;CD1_1,N,R;CD1_2,N,R;CD2_1,N,R;CD2_2,N,R;CHECKSUM,Y,Y;" +
    "CHECKVER,Y,Y;COMMENT,Y,Y;CONSTVER,Y,N;CRPIX1,N,R;CRPIX2,N,R;" +
    "CRVAL1,N,R;CRVAL2,N,R;CTYPE1,N,R;CTYPE2,N,R;D1E,N,Y;D1E,N,Y;D1Z,N,Y;" +
    "D1Z,N,Y;D3E,N,Y;D3Z,N,Y;DARKTIME,Y,N;DATASECA,N,Y;DATASECB,N,Y;" +
    "DATASEC,N,R;DATASUM,Y,Y;DATE-OBS,R,N;DEC,R,N;DETECTOR,N,Y;" +
    "DETPOS,N,Y;DETSECA,N,Y;DETSECB,N,Y;DETSEC,N,R;DETSIZE,Y,Y;" +
    "DHEFIRM,N,Y;DHEINF,N,Y;DIMMSEE,Y,N;DODZ,Y,N;DOMEFLOR,Y,N;" +
    "DOMEHIGH,Y,N;DOMELOW,Y,N;DONUTFN1,Y,N;DONUTFN2,Y,N;DONUTFN3,Y,N;" +
    "DONUTFN4,Y,N;DONUTFS1,Y,N;DONUTFS2,Y,N;DONUTFS3,Y,N;DONUTFS4,Y,N;" +
    "DOXD,Y,N;DOXT,Y,N;DOYD,Y,N;DOYT,Y,N;DTACCOUN,Y,N;DTACQNAM,Y,N;" +
    "DTACQUIS,Y,N;DTCALDAT,Y,N;DTCOPYR,Y,N;DTINSTRU,Y,N;DTNSANAM,Y,N;" +
    "DTOBSERV,Y,N;DTPIAFFL,Y,N;DTPI,Y,N;DTPROPID,Y,N;DTSITE,Y,N;" +
    "DTSTATUS,Y,N;DTTELESC,Y,N;DTTITLE,Y,N;DTUTC,Y,N;END,Y,N;EQUINOX,N,R;" +
    "ERRORS,Y,N;EXCLUDED,Y,N;EXPNUM,Y,N;EXPREQ,Y,N;EXPTIME,Y,N;" +
    "EXTEND,Y,N;EXTNAME,N,Y;FADZ,Y,N;FAXD,Y,N;FAXT,Y,N;FAYD,Y,N;FAYT,Y,N;" +
    "FILENAME,Y,N;FILTER,R,N;FILTPOS,Y,N;FPA,N,Y;GAINA,N,R;GAINB,N,R;" +
    "G-CCDNUM,Y,N;GCOUNT,N,Y;G-EXPTIM,Y,N;G-FEEDBK,Y,N;G-FLXVAR,Y,N;" +
    "G-LATENC,Y,N;G-MAXX,Y,N;G-MAXY,Y,N;G-MEANX2,Y,N;G-MEANX,Y,N;" +
    "G-MEANXY,Y,N;G-MEANY2,Y,N;G-MEANY,Y,N;G-MODE,Y,N;G-SEEING,Y,N;" +
    "GSKYHOT,Y,N;GSKYPHOT,Y,N;GSKYVAR,Y,N;G-TRANSP,Y,N;GUIDER,Y,N;HA,Y,N;" +
    "HEX,Y,N;HUMIDITY,Y,N;INHERIT,N,Y;INSTANCE,Y,N;INSTRUME,Y,N;" +
    "LSKYHOT,Y,N;LSKYPHOT,Y,N;LSKYPOW,Y,N;LSKYVAR,Y,N;LST,Y,N;LTM1_1,N,Y;" +
    "LTM1_2,N,Y;LTM2_1,N,Y;LTM2_2,N,Y;LTV1,N,Y;LTV2,N,Y;LUTVER,Y,N;" +
    "LWTRTEMP,Y,N;MAIRTEMP,Y,N;MJD-OBS,R,N;MSURTEMP,Y,N;MULTIEXP,Y,N;" +
    "MULTIFOC,Y,N;MULTIID,Y,N;MULTIROW,Y,N;MULTITOT,Y,N;NAXIS1,N,Y;" +
    "NAXIS2,N,Y;NAXIS,Y,Y;NDONUTS,N,Y;NEXTEND,Y,N;OBJECT,R,N;" +
    "OBS-ELEV,Y,N;OBSERVAT,Y,N;OBSERVER,Y,N;OBSID,Y,N;OBS-LAT,Y,N;" +
    "OBS-LONG,Y,N;OBSTYPE,R,N;ODATEOBS,Y,N;OPENSHUT,Y,N;OUTTEMP,Y,N;" +
    "PCOUNT,N,Y;PIXSCAL1,Y,N;PIXSCAL2,Y,N;PME-TEMP,Y,N;PMN-TEMP,Y,N;" +
    "PMOSTEMP,Y,N;PMS-TEMP,Y,N;PMW-TEMP,Y,N;POSTSECA,N,Y;POSTSECB,N,Y;" +
    "PRESECA,N,Y;PRESECB,N,Y;PRESSURE,Y,N;PROCTYPE,Y,N;PRODTYPE,Y,N;" +
    "PROGRAM,Y,N;PROPID,Y,N;PROPOSER,Y,N;PV1_0,N,Y;PV1_10,N,Y;PV1_1,N,Y;" +
    "PV1_2,N,Y;PV1_3,N,Y;PV1_4,N,Y;PV1_5,N,Y;PV1_6,N,Y;PV1_7,N,Y;" +
    "PV1_8,N,Y;PV1_9,N,Y;PV2_0,N,Y;PV2_10,N,Y;PV2_1,N,Y;PV2_2,N,Y;" +
    "PV2_3,N,Y;PV2_4,N,Y;PV2_5,N,Y;PV2_6,N,Y;PV2_7,N,Y;PV2_8,N,Y;" +
    "PV2_9,N,Y;RADESYS,Y,Y;RA,R,N;RDNOISEA,N,R;RDNOISEB,N,R;RECNO,Y,N;" +
    "RMCOUNT,Y,N;SATURATA,N,R;SATURATB,N,R;SB_ACCOU,Y,N;SB_DIR1,Y,N;" +
    "SB_DIR2,Y,N;SB_DIR3,Y,N;SB_HOST,Y,N;SB_ID,Y,N;SB_LOCAL,Y,N;" +
    "SB_NAME,Y,N;SB_RECNO,Y,N;SB_SITE,Y,N;SEQID,Y,N;SEQNUM,Y,N;" +
    "SEQTOT,Y,N;SIMPLE,Y,N;SISPIVER,Y,N;SKYSTAT,Y,N;SKYUPDAT,Y,N;" +
    "TELDEC,R,N;TELEQUIN,Y,N;TELESCOP,Y,N;TELFOCUS,Y,N;TELRA,R,N;" +
    "TELSTAT,Y,N;TILING,Y,N;TIME-OBS,Y,N;TIMESYS,Y,N;TRIMSECA,N,R;" +
    "TRIMSECB,N,R;TRIMSEC,N,Y;UPTRTEMP,Y,N;UTE-TEMP,Y,N;UTN-TEMP,Y,N;" +
    "UTS-TEMP,Y,N;UTW-TEMP,Y,N;VALIDA,N,Y;VALIDB,N,Y;WCSAXES,N,Y;" +
    "WINDDIR,Y,N;WINDSPD,Y,N;XTENSION,N,Y;ZD,Y,N"

  /** All 264 contract rows, file order preserved. */
  val entries: Seq[Entry] = raw.split(";").toIndexedSeq.map { line =>
    val Array(k, p, e) = line.split(",")
    Entry(k, p, e)
  }

  /** Keywords REQUIRED in the primary HDU (flag R, deduped). */
  val requiredPrimary: Seq[String] =
    entries.filter(_.primary == "R").map(_.keyword).distinct

  /** Keywords REQUIRED in extension HDUs (flag R, deduped). */
  val requiredExtension: Seq[String] =
    entries.filter(_.extension == "R").map(_.keyword).distinct

  /** The contract as a broadcast-sized dimension DataFrame. */
  def df(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.map(e => (e.keyword, e.primary, e.extension))
      .toDF("keyword", "primary_flag", "extension_flag")
  }
}
