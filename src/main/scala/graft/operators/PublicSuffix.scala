package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Public-Suffix-List registered-domain extraction — the exact eTLD+1
  * [[UrlOps.registeredDomain]]'s regexp heuristic approximates.
  *
  * The PSL (publicsuffix.org — a public dataset) is three rule kinds:
  * exact suffixes (`co.uk`), wildcards (`*.ck` — any single label under
  * the base is a public suffix), and exceptions (`!www.ck` — registrable
  * despite a covering wildcard). Matching: the rule with the MOST labels
  * prevails, exceptions take priority, and a host matching no rule uses
  * its last label (the implicit `*` rule). The registered domain is the
  * public suffix plus one label; a host that IS a public suffix has none.
  *
  * [[Rules]] is an embedded curated snapshot of the list's stable core
  * (the multi-label country registries, the wildcard/exception
  * families, the deep private-section hosting families — the
  * `*.compute.amazonaws.com` and `s3.dualstack.*` shapes — and the
  * punycode IDN registries; IDN rules and hosts match in their
  * punycode xn-- form, the PSL's canonical on-the-wire spelling).
  * Swap the Seq for a full refresh of the published dat file when
  * currency matters: the matching depth is DERIVED from the rules
  * ([[MaxTail]] = the deepest rule's label count), so deeper rules
  * automatically widen the tail set — the joins, the precedence
  * expression, and the oracle CTEs all generate from the same bound.
  * Init checks stay loud for shapes matching cannot honor (duplicate
  * rules, one-label exceptions, non-lowercase text).
  *
  * Scale shape ([[registeredDomainPsl]]): the rules table is a few
  * hundred rows → it BROADCASTS, and each host row LEFT-joins its
  * [[MaxTail]] trailing label-tails against it map-side — MaxTail
  * broadcast hash joins, zero shuffles, no per-host
  * explode/re-aggregate. The longest-match/exception-priority
  * resolution is one codegen'd expression over the matched flags. The
  * DuckDB oracle twin ([[registeredDomainPslOracleCtes]]) mirrors the
  * same rules as a VALUES relation and the same tail algebra, so PSL
  * semantics are hash-verifiable, not a doc claim. */
object PublicSuffix {

  /** (rule, isException, isWildcard) — wildcards carry the BASE (the X
    * of `*.X`). Curated snapshot of the PSL's stable core. */
  val Rules: Seq[(String, Boolean, Boolean)] = {
    val exact = Seq(
      // United Kingdom
      "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk", "sch.uk",
      "ac.uk", "gov.uk", "nhs.uk", "police.uk",
      // Australia
      "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
      // Japan (prefecture/city forms are in the wildcard family below)
      "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
      "gr.jp", "lg.jp",
      // Brazil
      "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br", "art.br",
      "blog.br", "eco.br", "emp.br", "esp.br", "eti.br", "far.br",
      "flog.br", "fnd.br", "fot.br", "fst.br", "g12.br", "ggf.br",
      "imb.br", "ind.br", "inf.br", "jor.br", "jus.br", "lel.br",
      "mat.br", "med.br", "mus.br", "not.br", "ntr.br", "odo.br",
      "pro.br", "psc.br", "psi.br", "qsl.br", "rec.br", "slg.br",
      "srv.br", "tmp.br", "trd.br", "tur.br", "tv.br", "vet.br",
      "vlog.br", "wiki.br", "zlg.br",
      // China
      "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "mil.cn",
      "ac.cn", "ah.cn", "bj.cn", "cq.cn", "fj.cn", "gd.cn", "gs.cn",
      "gx.cn", "gz.cn", "ha.cn", "hb.cn", "he.cn", "hi.cn", "hl.cn",
      "hn.cn", "jl.cn", "js.cn", "jx.cn", "ln.cn", "nm.cn", "nx.cn",
      "qh.cn", "sc.cn", "sd.cn", "sh.cn", "sn.cn", "sx.cn", "tj.cn",
      "xj.cn", "xz.cn", "yn.cn", "zj.cn",
      // India
      "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
      "ac.in", "edu.in", "res.in", "gov.in", "mil.in", "nic.in",
      // Mexico, New Zealand, South Africa
      "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
      "co.nz", "net.nz", "org.nz", "ac.nz", "geek.nz", "gen.nz",
      "govt.nz", "health.nz", "iwi.nz", "kiwi.nz", "maori.nz", "mil.nz",
      "school.nz", "cri.nz",
      "co.za", "net.za", "org.za", "web.za", "gov.za", "ac.za", "edu.za",
      "law.za", "mil.za", "nom.za", "school.za",
      // Korea, Taiwan, Turkey
      "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr", "mil.kr",
      "ac.kr", "hs.kr", "ms.kr", "es.kr", "sc.kr", "kg.kr", "seoul.kr",
      "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
      "game.tw", "ebiz.tw", "club.tw",
      "com.tr", "net.tr", "org.tr", "info.tr", "biz.tr", "av.tr",
      "bbs.tr", "bel.tr", "dr.tr", "edu.tr", "gen.tr", "gov.tr",
      "k12.tr", "name.tr", "pol.tr", "tel.tr", "tv.tr", "web.tr",
      // Argentina, Venezuela, Colombia
      "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar", "int.ar",
      "mil.ar", "musica.ar", "tur.ar",
      "com.ve", "net.ve", "org.ve", "co.ve", "edu.ve", "gob.ve",
      "info.ve", "mil.ve", "web.ve",
      "com.co", "net.co", "org.co", "edu.co", "gov.co", "mil.co",
      "nom.co", "arts.co", "firm.co", "info.co", "int.co", "rec.co",
      "web.co",
      // South-east Asia
      "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
      "com.my", "net.my", "org.my", "edu.my", "gov.my", "mil.my",
      "name.my",
      "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph", "mil.ph",
      "ngo.ph", "i.ph",
      "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "int.vn",
      "ac.vn", "biz.vn", "info.vn", "name.vn", "pro.vn", "health.vn",
      "co.th", "net.th", "or.th", "ac.th", "go.th", "in.th", "mi.th",
      "com.id", "net.id", "org.id", "ac.id", "biz.id", "co.id",
      "desa.id", "go.id", "mil.id", "my.id", "or.id", "ponpes.id",
      "sch.id", "web.id",
      // Middle East / Africa
      "com.eg", "net.eg", "org.eg", "edu.eg", "eun.eg", "gov.eg",
      "mil.eg", "name.eg", "sci.eg",
      "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa",
      "pub.sa", "sch.sa",
      "co.il", "org.il", "net.il", "ac.il", "gov.il", "idf.il",
      "k12.il", "muni.il",
      "com.pk", "net.pk", "org.pk", "edu.pk", "fam.pk", "biz.pk",
      "web.pk", "gov.pk", "gob.pk", "gok.pk", "gon.pk", "gop.pk",
      "gos.pk", "info.pk",
      "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke", "me.ke",
      "mobi.ke", "info.ke",
      "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng", "i.ng",
      "mil.ng", "mobi.ng", "name.ng", "sch.ng",
      "co.tz", "ac.tz", "go.tz", "hotel.tz", "info.tz", "me.tz",
      "mil.tz", "mobi.tz", "ne.tz", "or.tz", "sc.tz", "tv.tz",
      // Europe (multi-label registries)
      "com.pl", "net.pl", "org.pl", "info.pl", "waw.pl", "gov.pl",
      "edu.pl", "biz.pl",
      "com.ru", "net.ru", "org.ru", "int.ru", "ac.ru", "edu.ru",
      "gov.ru", "mil.ru",
      "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
      "kiev.ua", "lviv.ua", "od.ua", "dp.ua", "kh.ua",
      "co.at", "or.at", "ac.at", "gv.at", "priv.at",
      "com.pt", "net.pt", "org.pt", "edu.pt", "gov.pt", "int.pt",
      "nome.pt", "publ.pt",
      "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
      "com.ro", "org.ro", "tm.ro", "nt.ro", "nom.ro", "info.ro",
      "rec.ro", "arts.ro", "firm.ro", "store.ro", "www.ro",
      "co.hu", "org.hu", "info.hu", "priv.hu", "sport.hu", "tm.hu",
      "2000.hu", "agrar.hu", "bolt.hu", "casino.hu", "city.hu",
      "erotica.hu", "erotika.hu", "film.hu", "forum.hu", "games.hu",
      "hotel.hu", "ingatlan.hu", "jogasz.hu", "konyvelo.hu",
      "lakas.hu", "media.hu", "news.hu", "reklam.hu", "sex.hu",
      "shop.hu", "suli.hu", "szex.hu", "tozsde.hu", "utazas.hu",
      "video.hu",
      // Americas
      "co.cr", "ac.cr", "ed.cr", "fi.cr", "go.cr", "or.cr", "sa.cr",
      "com.ec", "net.ec", "org.ec", "edu.ec", "fin.ec", "gob.ec",
      "gov.ec", "info.ec", "k12.ec", "med.ec", "mil.ec", "pro.ec",
      "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe", "mil.pe",
      "nom.pe",
      "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy", "mil.uy",
      "com.py", "net.py", "org.py", "coop.py", "edu.py", "gov.py",
      "mil.py", "una.py",
      "com.bo", "net.bo", "org.bo", "edu.bo", "gob.bo", "int.bo",
      "mil.bo", "tv.bo", "web.bo",
      "com.do", "net.do", "org.do", "art.do", "edu.do", "gob.do",
      "gov.do", "mil.do", "sld.do", "web.do",
      "com.gt", "net.gt", "org.gt", "edu.gt", "gob.gt", "ind.gt",
      "mil.gt",
      "com.sv", "edu.sv", "gob.sv", "org.sv", "red.sv",
      "com.pa", "net.pa", "org.pa", "abo.pa", "ac.pa", "edu.pa",
      "gob.pa", "ing.pa", "med.pa", "nom.pa", "sld.pa",
      // misc well-known
      "co.com", "us.com", "uk.com", "eu.com", "gb.com", "de.com",
      "jpn.com", "ru.com", "sa.com", "se.com", "za.com", "br.com",
      "cn.com", "hu.com", "no.com", "qc.com", "uy.com",
      "co.us", "isa.us", "nsn.us", "dni.us", "fed.us",
      "gc.ca", "co.ca",
      // IDN registries (punycode form — 公司.cn / 网络.cn / the .hk twins;
      // the PSL matches hosts in their xn-- on-the-wire spelling)
      "xn--55qx5d.cn", "xn--io0a7i.cn",
      "xn--55qx5d.hk", "xn--od0alg.hk", "xn--wcvs22d.hk",
      // private-section hosting families (shared-hosting suffixes a
      // crawl hits constantly — each customer label is a distinct
      // registrant, so per-domain caps/stats must split on them)
      "github.io", "githubusercontent.com", "blogspot.com",
      "herokuapp.com", "appspot.com", "cloudfront.net",
      // the deep S3 website endpoints (4–5-label exact rules — the
      // family that forces tail depth past 3)
      "s3.amazonaws.com",
      "s3.dualstack.eu-west-1.amazonaws.com",
      "s3.dualstack.us-east-1.amazonaws.com")
    val wildcards = Seq( // *.X bases (none may also carry exact X rules)
      "ck", "er", "fk", "mm", "np", "bd", "jm", "kh", "mv", "pg", "ye",
      "kawasaki.jp", "kitakyushu.jp", "kobe.jp", "nagoya.jp",
      "sapporo.jp", "sendai.jp", "yokohama.jp",
      // EC2 per-VM hostnames: every instance label is its own
      // "registrant" (3- and 4-label wildcard bases)
      "compute.amazonaws.com", "compute-1.amazonaws.com",
      "elb.amazonaws.com", "compute.amazonaws.com.cn")
    val exceptions = Seq(
      "www.ck", "city.kawasaki.jp", "city.kitakyushu.jp", "city.kobe.jp",
      "city.nagoya.jp", "city.sapporo.jp", "city.sendai.jp",
      "city.yokohama.jp")
    exact.map((_, false, false)) ++ wildcards.map((_, false, true)) ++
      exceptions.map((_, true, false))
  }

  require(Rules.map(_._1).distinct.size == Rules.size, "duplicate PSL rules")
  require(Rules.forall { case (r, _, _) =>
    r == r.toLowerCase && !r.startsWith(".") && !r.endsWith(".") &&
      r.nonEmpty && !r.contains("..")
  }, "PSL rules must be lowercase dotted label sequences")
  // a 1-label exception would imply a 0-label public suffix — the
  // published list has none and the precedence chain (which resolves
  // exceptions only at tails >= 2) does not model it
  require(Rules.forall { case (r, exc, _) =>
    !exc || r.split('.').length >= 2
  }, "exception rules must have >= 2 labels")

  /** Deepest label-tail matching needs: an exact/exception rule of b
    * labels matches at tail b, and a wildcard base of b labels also
    * matches at tail b (its covered suffix is b+1 labels). Everything
    * downstream — the tail projections, the broadcast joins, the
    * precedence expression, the oracle CTEs — generates from this
    * bound, so a full-list refresh that adds deeper rules just works. */
  val MaxTail: Int = Rules.map(_._1.split('.').length).max

  /** The snapshot as a relation (rule, is_exc, is_wild) — broadcast-sized
    * by construction. */
  def rulesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Rules.toDF("rule", "is_exc", "is_wild")
  }

  private def tailOf(labels: Column, n: Column, k: Int): Column =
    when(n >= k, array_join(slice(labels, -k, k), "."))

  /** PSL registered domain (eTLD+1) of a lower-case `hostCol`, appended
    * as `outCol`. '' when the host has no dot, matches no registrable
    * form, or IS a public suffix itself. [[MaxTail]] broadcast LEFT
    * joins (one per trailing label-tail) + one resolution expression —
    * map-side end to end, the host stream is never shuffled. */
  def registeredDomainPsl(df: DataFrame, hostCol: String,
                          outCol: String = "domain"): DataFrame = {
    val ks = 1 to MaxTail
    val scratch = "__n" +: ks.flatMap(k =>
      Seq(s"__t$k", s"__exc$k", s"__wild$k"))
    require((scratch :+ outCol).forall(c => !df.columns.contains(c)),
      s"input already carries '$outCol' or a __-scratch column")
    val spark = df.sparkSession
    val rules = rulesDf(spark)
    val labels = split(col(hostCol), "\\.")
    val n = size(labels)
    var out = ks.foldLeft(df.withColumn("__n", n)) { (d, k) =>
      d.withColumn(s"__t$k", tailOf(labels, n, k))
    }
    for (k <- ks) {
      val r = rules.select(col("rule").as(s"__t$k"),
        col("is_exc").as(s"__exc$k"), col("is_wild").as(s"__wild$k"))
      out = out.join(broadcast(r), Seq(s"__t$k"), "left")
    }
    // public-suffix label count by PSL precedence: exceptions first
    // (their suffix is the rule minus its first label), then the
    // longest match — a wildcard base matched at tail k puts the
    // suffix at k+1 labels — then the implicit '*' (1 label)
    def flag(c: String): Column = coalesce(col(c), lit(false))
    def matched(k: Int): Column = col(s"__exc$k").isNotNull
    // a wildcard rule `*.X` has labels(X)+1 labels and so can only
    // match hosts with at least that many — a host EQUAL to the base
    // falls through to the next rule down (host 'kawasaki.jp'
    // registers as kawasaki.jp under rule 'jp'; it is not itself a
    // suffix)
    val longest = greatest(ks.flatMap { k =>
      Seq(
        when(matched(k) && !flag(s"__exc$k") && !flag(s"__wild$k"), k)
          .otherwise(0), // exact rule of k labels
        when(flag(s"__wild$k") && col("__n") >= k + 1, k + 1)
          .otherwise(0)) // one label under a k-label wildcard base
    } :+ lit(1): _*) // the PSL's implicit '*' rule: unknown TLDs count 1
    // exception chain checks DEEPEST first (a when-chain resolves in
    // construction order, and the deepest matching exception must win)
    val psLen = (MaxTail - 1 to 2 by -1)
      .foldLeft(when(flag(s"__exc$MaxTail"), lit(MaxTail - 1))) { (acc, k) =>
        acc.when(flag(s"__exc$k"), lit(k - 1))
      }.otherwise(longest)
    val reg = when(col("__n") >= psLen + 1,
      array_join(slice(split(col(hostCol), "\\."),
        (psLen + 1) * -1, psLen + 1), "."))
      .otherwise(lit(""))
    // IP literals are hosts but never registrable names (PSL rule):
    // all-numeric dotted hosts (IPv4) and anything carrying ':'
    // (unbracketed IPv6) have no registered domain
    val isIp = col(hostCol).rlike("^[0-9.]+$") ||
      col(hostCol).contains(":")
    out.withColumn(outCol, when(col(hostCol).isNull, lit(null)
        .cast("string")).when(isIp, lit("")).otherwise(reg))
      .drop("__n" +: ks.flatMap(k =>
        Seq(s"__t$k", s"__exc$k", s"__wild$k")): _*)
  }

  /** [[registeredDomainPsl]] as DuckDB SQL over a relation exposing a
    * lower-case `hostExpr`: the SAME snapshot rules as a VALUES
    * relation, the same three trailing tails, the same precedence
    * resolution. Emits WITH bodies; the final relation is
    * `psl_reg(host, domain)` keyed by DISTINCT host. */
  def registeredDomainPslOracleCtes(hostExpr: String,
                                    fromRelation: String): String = {
    val ks = 1 to MaxTail
    val vals = Rules.map { case (r, e, w) =>
      s"('${r.replace("'", "''")}', $e, $w)"
    }.mkString(", ")
    val tails = ks.map(k =>
      s"""    CASE WHEN t.n >= $k
         |      THEN array_to_string(list_slice(L, -$k, -1), '.') END AS t$k"""
        .stripMargin).mkString(",\n")
    val joinCols = ks.map(k =>
      s"    r$k.is_exc AS exc$k, r$k.is_wild AS wild$k, r$k.rule AS m$k")
      .mkString(",\n")
    val joins = ks.map(k =>
      s"  LEFT JOIN psl_rules r$k ON m.t$k = r$k.rule").mkString("\n")
    // exceptions deepest-first, then the longest exact/wildcard match
    val excArms = (MaxTail to 2 by -1).map(k =>
      s"         WHEN COALESCE(exc$k, false) THEN ${k - 1}").mkString("\n")
    val longestArms = ks.flatMap { k =>
      Seq(
        s"""           CASE WHEN m$k IS NOT NULL AND NOT COALESCE(exc$k, false)
           |             AND NOT COALESCE(wild$k, false) THEN $k ELSE 0 END"""
          .stripMargin,
        s"""           CASE WHEN COALESCE(wild$k, false) AND n >= ${k + 1}
           |             THEN ${k + 1} ELSE 0 END""".stripMargin)
    }.mkString(",\n")
    s"""psl_rules(rule, is_exc, is_wild) AS (VALUES $vals),
       |psl_hosts AS (SELECT DISTINCT $hostExpr AS host FROM $fromRelation),
       |psl_tails AS (SELECT host,
       |    string_split(host, '.') AS L, len(string_split(host, '.')) AS n
       |  FROM psl_hosts),
       |psl_m AS (SELECT t.host, t.n,
       |$tails
       |  FROM psl_tails t),
       |psl_j AS (SELECT m.host, m.n,
       |$joinCols
       |  FROM psl_m m
       |$joins),
       |psl_len AS (SELECT host, n,
       |    CASE
       |$excArms
       |         ELSE greatest(
       |$longestArms,
       |           1) END AS ps_len
       |  FROM psl_j),
       |psl_reg AS (SELECT host,
       |    CASE WHEN regexp_matches(host, '^[0-9.]+$$')
       |        OR contains(host, ':') THEN ''
       |      WHEN n >= ps_len + 1 THEN array_to_string(list_slice(
       |      string_split(host, '.'), -(ps_len + 1), -1), '.') ELSE '' END
       |      AS domain
       |  FROM psl_len)""".stripMargin
  }
}
