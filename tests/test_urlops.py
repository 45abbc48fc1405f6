"""URL normalization / domain extraction / per-domain caps."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_mrkr_2_spark.operators.urlops import (
    cap_per_domain,
    with_normalized_urls,
)


def _norm(spark, url: str) -> tuple[str, str]:
    df = spark.createDataFrame([(url,)], "url string")
    r = with_normalized_urls(df).collect()[0]
    return r["norm_url"], r["domain"]


def _first_per_norm_url(df):
    """One row per ``norm_url``: the one with the min raw ``url``."""
    w = Window.partitionBy("norm_url").orderBy("url")
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


class TestNormalize:
    def test_fragment_and_tracking_params(self, spark):
        norm, dom = _norm(
            spark,
            "https://Example.COM/page?utm_source=x&id=7&utm_campaign=y&fbclid=abc#frag",
        )
        assert norm == "https://example.com/page?id=7"
        assert dom == "example.com"

    def test_default_ports_and_trailing_slash(self, spark):
        assert _norm(spark, "http://host.example:80/")[0] == "http://host.example"
        assert _norm(spark, "https://host.example:443/a")[0] == "https://host.example/a"
        # non-default port survives
        assert _norm(spark, "http://host.example:8080/a")[0] == "http://host.example:8080/a"

    def test_case_only_prefix_lowered(self, spark):
        norm, _ = _norm(spark, "HTTPS://WWW.Site.Org/Path/File.HTML")
        assert norm == "https://www.site.org/Path/File.HTML"  # path case kept

    def test_www_and_userinfo_port_stripped_from_domain(self, spark):
        # r4: domain is the PSL registered domain (subdomains collapse to
        # the registrable boundary; .co has no 2nd-level rule in the subset
        # so the implicit '*' rule applies: last two labels)
        _, dom = _norm(spark, "https://user:pw@www.sub.example.co:8443/x")
        assert dom == "example.co"

    def test_only_tracking_param(self, spark):
        assert _norm(spark, "https://a.example/p?utm_medium=em")[0] == "https://a.example/p"


class TestRegisteredDomain:
    """PSL-aware registered-domain extraction (VERDICT r3 'Next round' #7)."""

    CASES = [
        # (host/url, expected registered domain)
        ("https://news.bbc.co.uk/page", "bbc.co.uk"),  # ccTLD 2nd-level rule
        ("https://bbc.co.uk/", "bbc.co.uk"),
        ("https://co.uk/", "co.uk"),  # host IS a public suffix -> itself
        ("https://deep.sub.site.ac.jp/x", "site.ac.jp"),
        ("https://user1.github.io/repo", "user1.github.io"),  # private rule
        ("https://a.user1.github.io/r", "user1.github.io"),
        ("https://www.example.com/", "example.com"),  # www is just a label
        ("https://only-tld", "only-tld"),  # single label
        ("https://plain.example.org/", "example.org"),
        ("https://x.y.anything.ck/", "y.anything.ck"),  # wildcard *.ck
        ("https://www.ck/", "www.ck"),  # exception !www.ck
        ("https://sub.www.ck/", "www.ck"),
        ("https://vm1.uswest.compute.amazonaws.com/", "vm1.uswest.compute.amazonaws.com"),
        ("https://school.k12.ca.us/", "school.k12.ca.us"),  # 3-label rule
    ]

    def test_registered_domains(self, spark):
        df = spark.createDataFrame([(u,) for u, _ in self.CASES], "url string")
        got = [r["domain"] for r in with_normalized_urls(df).collect()]
        for (url, want), g in zip(self.CASES, got):
            assert g == want, f"{url}: got {g}, want {want}"

    def test_ip_literal_hosts_kept_whole(self, spark):
        """IPv4 hosts have no registrable boundary — the implicit '*' rule
        must NOT truncate 104.16.2.8 to '2.8' and merge unrelated servers
        into one cap group (review r4 finding #3)."""
        df = spark.createDataFrame(
            [("http://104.16.2.8/a",), ("http://93.184.2.8/b",), ("https://10.0.0.1:8080/c",)],
            "url string",
        )
        doms = [r["domain"] for r in with_normalized_urls(df).collect()]
        assert doms == ["104.16.2.8", "93.184.2.8", "10.0.0.1"]

    def test_ipv6_literal_hosts_kept_whole(self, spark):
        """Bracketed IPv6 hosts must be captured whole (the ':' inside the
        brackets is not a port separator) and never merged by the implicit
        '*' rule (review r4 pass-2 finding #4)."""
        df = spark.createDataFrame(
            [("http://[2606:4700::1]/a",), ("http://[2001:db8::2]:8080/b",)],
            "url string",
        )
        doms = [r["domain"] for r in with_normalized_urls(df).collect()]
        assert doms == ["[2606:4700::1]", "[2001:db8::2]"]

    def test_caps_group_at_registrable_boundary(self, spark):
        """Subdomain fan-out on a shared registry suffix must NOT dodge the
        per-domain cap, while distinct github.io users must keep their own
        budgets."""
        rows = [(f"https://sub{i}.corp.co.uk/p{i}",) for i in range(20)]
        rows += [(f"https://user{i}.github.io/p",) for i in range(5)]
        df = with_normalized_urls(spark.createDataFrame(rows, "url string"))
        capped = cap_per_domain(df, max_per_domain=3)
        counts = {
            r["domain"]: r["n"]
            for r in capped.groupBy("domain").agg(F.count("*").alias("n")).collect()
        }
        assert counts["corp.co.uk"] == 3  # 20 subdomains -> one budget
        assert sum(1 for d in counts if d.endswith("github.io")) == 5

    def test_plan_stays_codegen(self, spark):
        """Membership probes must compile to hashed InSet literals — no
        join, no Python — on the url scan path."""
        df = spark.createDataFrame([("https://a.co.uk/x",)], "url string")
        out = with_normalized_urls(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Python" not in plan

    def test_full_psl_file_seam(self, spark, tmp_path, monkeypatch):
        """SPARK_GRAFT_PSL_FILE drops in the full list: a rule absent from
        the vendored subset changes grouping accordingly."""
        from graphrag_mrkr_2_spark.functions.psl import registered_domain_expr

        dat = tmp_path / "psl.dat"
        dat.write_text("// test list\nuk\nco.uk\nspecialreg.example\n")
        monkeypatch.setenv("SPARK_GRAFT_PSL_FILE", str(dat))
        df = spark.createDataFrame(
            [("corp.specialreg.example",), ("news.bbc.co.uk",)], "host string"
        )
        got = [
            r["d"]
            for r in df.select(registered_domain_expr(F.col("host")).alias("d")).collect()
        ]
        assert got == ["corp.specialreg.example", "bbc.co.uk"]


class TestDomainCap:
    def test_cap_is_deterministic_and_bounded(self, spark):
        rows = [(f"https://hot.example/p{i}",) for i in range(50)]
        rows += [(f"https://cold{i}.example/x",) for i in range(5)]
        df = with_normalized_urls(spark.createDataFrame(rows, "url string"))
        capped = cap_per_domain(df, 10)
        counts = {
            r["domain"]: r["n"]
            for r in capped.groupBy("domain").agg(F.count("*").alias("n")).collect()
        }
        assert counts["hot.example"] == 10
        assert all(counts[f"cold{i}.example"] == 1 for i in range(5))
        # deterministic selection
        kept1 = sorted(r["url"] for r in capped.collect())
        kept2 = sorted(r["url"] for r in cap_per_domain(df, 10).collect())
        assert kept1 == kept2


class TestPipelineCuration:
    def test_url_dedup_and_domain_cap_in_pipeline(self, spark):
        """One row per normalized URL in front of the builder collapses
        tracking-param variants of the same page before any heavy stage."""
        from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
        from graphrag_mrkr_2_spark.sources.pages import generate_pages

        base = generate_pages(spark, 6)
        # add tracking-param duplicates of every page
        dup = base.withColumn(
            "url", F.concat("url", F.lit("?utm_source=feed#top"))
        )
        pages = base.unionByName(dup)
        res = run_kg_pipeline(_first_per_norm_url(with_normalized_urls(pages)))
        res_base = run_kg_pipeline(base)
        t_curated = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}
        t_base = {(r["subj"], r["pred"], r["obj"]) for r in res_base.triples.collect()}
        assert t_curated == t_base  # duplicates contributed nothing extra

    def test_domain_cap_reduces_pages(self, spark):
        """cap_per_domain in front of the builder bounds hot domains."""
        from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
        from graphrag_mrkr_2_spark.sources.pages import generate_pages

        curated = with_normalized_urls(generate_pages(spark, 12))
        n_domains = curated.select("domain").distinct().count()
        res = run_kg_pipeline(cap_per_domain(_first_per_norm_url(curated), 1))
        kept_chunk_docs = res.mentions.select("document_id").distinct().count()
        assert kept_chunk_docs <= n_domains


class TestReviewRegressions:
    def test_tracking_pattern_anchored_not_in_values(self, spark):
        """'gclid=' inside another param's VALUE must survive."""
        norm, _ = _norm(spark, "https://a.example/search?q=gclid%3Dabc&gclid=real&page=2")
        assert norm == "https://a.example/search?q=gclid%3Dabc&page=2"
        # and a param merely SUFFIXED with utm_ is untouched
        norm2, _ = _norm(spark, "https://a.example/p?xutm_source=1&id=2")
        assert norm2 == "https://a.example/p?xutm_source=1&id=2"

    def test_consecutive_tracking_params_all_removed(self, spark):
        norm, _ = _norm(
            spark,
            "https://a.example/p?utm_a=1&utm_b=2&utm_c=3&utm_d=4&utm_e=5&id=9",
        )
        assert norm == "https://a.example/p?id=9"

    def test_uppercase_scheme_gets_port_and_slash_rules(self, spark):
        assert _norm(spark, "HTTP://Host.example:80/")[0] == "http://host.example"
        assert _norm(spark, "HTTPS://Host.example:443/a")[0] == "https://host.example/a"

    def test_cap_without_dedup_keeps_duplicate_norm_urls(self, spark):
        """cap_per_domain alone must NOT collapse same-norm_url pages."""
        from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
        from graphrag_mrkr_2_spark.sources.pages import generate_pages

        base = generate_pages(spark, 4)
        dup = base.withColumn("url", F.concat("url", F.lit("?utm_source=x")))
        pages = base.unionByName(dup)
        res = run_kg_pipeline(cap_per_domain(with_normalized_urls(pages), 1000))
        n_docs = res.mentions.select("document_id").distinct().count()
        # utm-variant urls hash to DIFFERENT document ids -> both kept
        assert n_docs == 8


class TestIpv6Normalization:
    def test_default_port_stripped_inside_brackets(self, spark):
        """Equivalent IPv6 URLs with/without a default port must normalize
        identically (review r4 pass-3 finding #3)."""
        df = spark.createDataFrame(
            [("http://[2606:4700::1]:80/a",), ("http://[2606:4700::1]/a",),
             ("https://[2001:db8::2]:443/b",), ("https://[2001:db8::2]/b",)],
            "url string",
        )
        norms = [r["norm_url"] for r in with_normalized_urls(df).collect()]
        assert norms[0] == norms[1] == "http://[2606:4700::1]/a"
        assert norms[2] == norms[3] == "https://[2001:db8::2]/b"
